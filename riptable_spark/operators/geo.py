"""Spatial operators: planar grid neighbor joins and great-circle
distance.

The join shape is the spatial sibling of ``merge.range_join`` and the
LSH bucket joins in ``dedup.py``: map every point to a grid cell sized
to the search radius, explode the LEFT side to its 3×3 cell
neighborhood, equi-join on the cell id, then apply the exact residual
distance filter — NEVER a cross join.  Each candidate pair is generated
exactly once (the right point owns one cell; the left point covers that
cell exactly once in its 9-cell stencil), so no dedup pass is needed.

At 100 TB: the shuffle is keyed on the cell id — points only meet
points from adjacent cells.  A dense city cell is the skew analogue of
a ubiquitous shingle; ``max_cell`` drops cells above the cap before the
join (the same dial as ``basket_pairs(max_basket=...)``).

Coordinates are INTEGER MICRO-DEGREES end to end, so cell assignment
and the squared-distance residual are exact int64 arithmetic — a SQL
oracle replays the whole join bit-for-bit with no float epsilon.
``haversine_km`` is the one float output; both engines evaluate the
identical operand chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree-valued) points.

    2R·asin(√(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2))), R = 6371.0088 km
    (IUGG mean Earth radius).
    """
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1) / 2
    dlam = F.radians(lon2 - lon1) / 2
    a = F.sin(dphi) * F.sin(dphi) + F.cos(p1) * F.cos(p2) * F.sin(dlam) * F.sin(dlam)
    return F.lit(2 * 6371.0088) * F.asin(F.sqrt(a))


def grid_neighbor_join(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_udeg: int,
    max_cell: int | None = None,
) -> DataFrame:
    """All point pairs within ``radius_udeg`` micro-degrees (planar
    L2) — self-join via a radius-sized grid: left side explodes to its
    9-cell stencil, equi-join on cell, exact integer residual filter
    ``Δlat² + Δlon² ≤ r²``, canonical ``id_a < id_b``.

    Inputs must be integer micro-degree coordinates (lat·1e6); at that
    scale one micro-degree ≈ 0.11 m, and r ≤ ~2e9 keeps Δ² sums far
    inside int64.  Emits (id_a, id_b, dist2_udeg2).
    """
    r = int(radius_udeg)
    base = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).cast("long").alias("la"),
        F.col(lon_col).cast("long").alias("lo"),
    )
    cx = F.floor(F.col("la") / r)
    cy = F.floor(F.col("lo") / r)
    right = base.select("id", "la", "lo", cx.alias("cx"), cy.alias("cy"))
    if max_cell is not None:
        w = Window.partitionBy("cx", "cy")
        right = right.withColumn("__n__", F.count(F.lit(1)).over(w)).where(
            F.col("__n__") <= max_cell
        ).drop("__n__")
    off = F.explode(F.expr("sequence(-1, 1)"))
    left = (
        right.select("id", "la", "lo", "cx", "cy")
        .withColumn("dx", off)
        .withColumn("dy", F.explode(F.expr("sequence(-1, 1)")))
        .select(
            F.col("id").alias("id_a"), F.col("la").alias("la_a"), F.col("lo").alias("lo_a"),
            (F.col("cx") + F.col("dx")).alias("cx"), (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    cand = left.join(
        right.select(
            F.col("id").alias("id_b"), F.col("la").alias("la_b"), F.col("lo").alias("lo_b"),
            "cx", "cy",
        ),
        on=["cx", "cy"],
    ).where(F.col("id_a") < F.col("id_b"))
    dla = F.col("la_a") - F.col("la_b")
    dlo = F.col("lo_a") - F.col("lo_b")
    d2 = dla * dla + dlo * dlo  # int64 multiplies — NOT pow(), which is double
    return cand.withColumn("dist2_udeg2", d2.cast("long")).where(
        F.col("dist2_udeg2") <= r * r
    ).select("id_a", "id_b", "dist2_udeg2")


def dbscan(
    points: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_udeg: int,
    min_pts: int,
    max_cell: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Distributed DBSCAN over integer micro-degree points — the
    composition the grid join exists for:

    1. ε-neighbor pairs from :func:`grid_neighbor_join` (cell equi-join,
       exact integer residual — never a cross join);
    2. core points = ``|N_ε(p)| ≥ min_pts`` (neighborhood INCLUDING the
       point itself, the standard definition);
    3. clusters = connected components over CORE–CORE pairs
       (``graph.connected_components`` min-label propagation, one
       shuffle per round, diameter-bounded);
    4. border points (non-core with ≥1 core ε-neighbor) join the MIN
       cluster label among their core neighbors — DBSCAN leaves border
       assignment implementation-defined; min-label makes it
       deterministic and engine-replayable;
    5. everything else is noise (``cluster`` NULL).

    Returns (id, is_core, cluster).  Cluster labels are the min point
    id in the core component — stable across runs and partitionings.
    """
    from .graph import connected_components

    pairs = grid_neighbor_join(
        points, id_col, lat_col, lon_col, radius_udeg, max_cell=max_cell
    ).select("id_a", "id_b")
    sym = pairs.unionAll(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    ids = points.select(F.col(id_col).alias("id")).distinct()
    ncount = sym.groupBy(F.col("id_a").alias("id")).agg(
        (F.count(F.lit(1)) + 1).alias("__n__")  # +1: the point itself
    )
    deg = ids.join(ncount, on="id", how="left").select(
        "id", F.coalesce(F.col("__n__"), F.lit(1)).alias("__n__")
    )
    core = deg.where(F.col("__n__") >= min_pts).select("id")
    core_pairs = (
        pairs.join(core.select(F.col("id").alias("id_a")), on="id_a")
        .join(core.select(F.col("id").alias("id_b")), on="id_b")
    )
    comp = connected_components(core_pairs, "id_a", "id_b", max_iter=max_iter)
    core_lab = core.join(comp.withColumnRenamed("node", "id"), on="id", how="left").select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("cluster")
    )
    # border: non-core adjacent to a core → min core-neighbor's cluster
    border = (
        sym.withColumnRenamed("id_a", "id")
        .join(core_lab.select(F.col("id").alias("id_b"), F.col("cluster")), on="id_b")
        .join(core.select("id"), on="id", how="left_anti")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_lab.withColumn("is_core", F.lit(True)).unionByName(
        border.withColumn("is_core", F.lit(False))
    )
    return ids.join(labeled, on="id", how="left").select(
        "id", F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"), "cluster"
    )


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cell(lat: Column, lon: Column, precision: int = 6) -> Column:
    """Geohash of (lat, lon) at ``precision`` base-32 characters — the
    standard bit-interleaved spatial bucket key (longitude bit first).

    Engine-portable construction: quantize each axis to an integer grid
    (one float multiply+floor on identical operands), then the bit
    interleave and base-32 lookup are a FIXED tree of integer
    shifts/masks and literal-alphabet substrings — no loops, no UDF,
    fully codegen.  At 100 TB a geohash prefix is the standard
    shuffle/partition key for spatial joins (see grid_neighbor_join for
    the radius-join variant).
    """
    total_bits = 5 * int(precision)
    lon_bits = (total_bits + 1) // 2
    lat_bits = total_bits // 2
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))).cast("long")
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))).cast("long")
    x = F.least(F.greatest(x, F.lit(0)), F.lit((1 << lon_bits) - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit((1 << lat_bits) - 1))
    code = F.lit(0).cast("long")
    xi = lon_bits - 1
    yi = lat_bits - 1
    for pos in range(total_bits - 1, -1, -1):
        # even interleave positions (msb-first) take longitude bits
        if (total_bits - 1 - pos) % 2 == 0:
            bit = F.shiftright(x, xi).bitwiseAND(F.lit(1))
            xi -= 1
        else:
            bit = F.shiftright(y, yi).bitwiseAND(F.lit(1))
            yi -= 1
        code = code + F.shiftleft(bit.cast("long"), pos)
    out = None
    for c in range(int(precision)):
        idx = F.shiftright(code, total_bits - 5 * (c + 1)).bitwiseAND(F.lit(31))
        ch = F.substring(F.lit(GEOHASH_ALPHABET), 1, 32).substr(
            idx.cast("int") + 1, F.lit(1)
        )
        out = ch if out is None else F.concat(out, ch)
    return out


def point_in_polygon(
    df: DataFrame,
    x_col: str,
    y_col: str,
    polygon: list[tuple[int, int]],
) -> DataFrame:
    """Point-in-polygon test against a LITERAL polygon (geofence /
    service-area tagging) on integer coordinates — the even-odd ray
    casting rule with every edge term an exact integer cross product,
    so the boundary decision can never sit on a float epsilon.

    For each edge (x1,y1)→(x2,y2) a rightward horizontal ray from
    (x,y) crosses iff (y1 > y) ≠ (y2 > y) and
    x·(y2−y1) < x1·(y2−y1) + (y−y1)·(x2−x1) when y2>y1 (inequality
    flips when the edge descends — encoded by multiplying through
    without dividing).  The edge set is unrolled into one fixed
    expression (bounded vertices are the contract, like the Erlang /
    Shapley unrolls) — pure codegen, zero shuffle, zero joins.
    Returns the input plus an ``inside`` boolean.
    """
    x, y = F.col(x_col), F.col(y_col)
    crossings = F.lit(0)
    n = len(polygon)
    for i in range(n):
        x1, y1 = polygon[i]
        x2, y2 = polygon[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray
        straddles = (F.lit(y1) > y) != (F.lit(y2) > y)
        # x < x1 + (y - y1) * (x2 - x1) / (y2 - y1), cross-multiplied by
        # (y2 - y1) with the sign handled by flipping the comparison
        lhs = (x - F.lit(x1)) * F.lit(y2 - y1)
        rhs = (y - F.lit(y1)) * F.lit(x2 - x1)
        hit = lhs < rhs if y2 > y1 else lhs > rhs
        crossings = crossings + F.when(straddles & hit, 1).otherwise(0)
    return df.withColumn("inside", crossings % 2 == 1)
