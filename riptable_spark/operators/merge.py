"""Join surface: merge2 / merge_lookup / merge_asof (SURVEY §2.3).

Reference: /root/reference/riptable/rt_merge.py:2293 (merge2 signature:
how, on, keep, suffixes, indicator, validate, high_card/hint_size),
:3229 (merge_lookup), :3572 (merge_asof; kernel alignmk rt_utils.py:503).

Spark-first mapping:
- merge2 → ``df.join`` (Catalyst/AQE picks broadcast vs sort-merge vs
  shuffled-hash; the reference's high_card/hint_size perf hints become an
  optional ``broadcast=`` flag).
- keep='first'/'last' → per-side ``min_by/max_by``-style dedup *before*
  the join, shrinking the shuffle instead of exploding it.
- indicator → presence flags computed from a full-outer join.
- validate → one count-aggregation over each side's keys (fails fast
  before shuffling the fact table).
- merge_asof → sort-merge on (by, on) expressed as union + window
  ``last(ignorenulls)`` — a single shuffle, no point-in-time explosion;
  equivalent to the reference's two-pointer MultiKeyAlign32 scan.

Invalid keys never match (rt_merge.py:2320) — SQL NULL join semantics give
this for free.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _normalize_on(on, left_on, right_on) -> tuple[list[str], list[str]]:
    if on is not None:
        if isinstance(on, str):
            on = [on]
        pairs = [(c, c) if isinstance(c, str) else (c[0], c[1]) for c in on]
        return [p[0] for p in pairs], [p[1] for p in pairs]
    lo = [left_on] if isinstance(left_on, str) else list(left_on)
    ro = [right_on] if isinstance(right_on, str) else list(right_on)
    return lo, ro


def _dedupe_side(df: DataFrame, keys: list[str], keep: str, order_col) -> DataFrame:
    """keep='first'|'last' (rt_merge.py keep=): reduce to one row per key.
    ``order_col`` may be a name, a list of names (lexicographic), or a
    Column; without it the winner is arbitrary (riptable's physical-order
    semantics need an explicit order on Spark)."""
    if keep is None:
        return df
    if order_col is None:
        order = F.monotonically_increasing_id()
    elif isinstance(order_col, str):
        order = F.col(order_col)
    elif isinstance(order_col, (list, tuple)):
        order = F.struct(*[F.col(c) for c in order_col])
    else:
        order = order_col
    if keep == "last":
        order = order.desc()
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn("__rn__", F.row_number().over(w)).where(F.col("__rn__") == 1).drop("__rn__")


def validate_join(left: DataFrame, right: DataFrame, left_keys: list[str], right_keys: list[str], validate: str) -> None:
    """rt_merge.py validate= ('1:1','1:m','m:1','m:m'): key-uniqueness
    check via one tiny count-agg per constrained side."""
    lspec, rspec = validate.split(":")
    if lspec == "1":
        dup = left.groupBy(*left_keys).count().where(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError(f"merge2 validate={validate}: left keys are not unique")
    if rspec == "1":
        dup = right.groupBy(*right_keys).count().where(F.col("count") > 1).limit(1).count()
        if dup:
            raise ValueError(f"merge2 validate={validate}: right keys are not unique")


def merge2(
    left: DataFrame,
    right: DataFrame,
    on=None,
    how: str = "left",
    left_on=None,
    right_on=None,
    suffixes: tuple[str, str] = ("_x", "_y"),
    indicator: bool = False,
    validate: str | None = None,
    keep: str | tuple[str | None, str | None] | None = None,
    columns_left: Sequence[str] | None = None,
    columns_right: Sequence[str] | None = None,
    broadcast_right: bool = False,
    left_order_col: str | None = None,
    right_order_col: str | None = None,
) -> DataFrame:
    """rt_merge.py:2293 merge2 on Spark. how ∈ left|right|inner|outer."""
    lk, rk = _normalize_on(on, left_on, right_on)

    if validate:
        validate_join(left, right, lk, rk, validate)

    if keep is not None:
        lkeep, rkeep = keep if isinstance(keep, tuple) else (keep, keep)
        left = _dedupe_side(left, lk, lkeep, left_order_col) if lkeep else left
        right = _dedupe_side(right, rk, rkeep, right_order_col) if rkeep else right

    if columns_left is not None:
        left = left.select(*dict.fromkeys([*lk, *columns_left]))
    if columns_right is not None:
        right = right.select(*dict.fromkeys([*rk, *columns_right]))

    # suffix non-key overlapping columns (rt_merge.py _construct_colname_mapping :382).
    # A join KEY can itself collide with the other side's non-key column
    # (left_on='id' while right carries a payload 'id'): the rename still
    # happens, so the join condition below must use the RENAMED key names.
    overlap = (set(left.columns) & set(right.columns)) - (set(lk) & set(rk))
    for c in overlap:
        left = left.withColumnRenamed(c, c + suffixes[0])
        right = right.withColumnRenamed(c, c + suffixes[1])
    lk_j = [k + suffixes[0] if k in overlap else k for k in lk]
    rk_j = [k + suffixes[1] if k in overlap else k for k in rk]

    if indicator:
        left = left.withColumn("__l__", F.lit(1))
        right = right.withColumn("__r__", F.lit(1))

    r = F.broadcast(right) if broadcast_right else right
    if lk_j == rk_j:
        joined = left.join(r, on=lk_j, how={"outer": "full_outer"}.get(how, how))
    else:
        cond = None
        for a, b in zip(lk_j, rk_j):
            c = left[a] == r[b]
            cond = c if cond is None else (cond & c)
        joined = left.join(r, on=cond, how={"outer": "full_outer"}.get(how, how))

    if indicator:
        joined = joined.withColumn(
            "merge_indicator",
            F.when(F.col("__l__").isNotNull() & F.col("__r__").isNotNull(), F.lit("both"))
            .when(F.col("__l__").isNotNull(), F.lit("left_only"))
            .otherwise(F.lit("right_only")),
        ).drop("__l__", "__r__")
    return joined


def merge_lookup(
    left: DataFrame,
    right: DataFrame,
    on=None,
    require_match: bool = False,
    keep: str = "first",
    right_order_col: str | None = None,
    broadcast_right: bool = True,
    **kw,
) -> DataFrame:
    """rt_merge.py:3229 — left join where each left row uses ≤1 right match.
    Lookup tables are small by construction → broadcast by default (no
    shuffle of the fact side at all)."""
    if require_match:
        # presence flag survives suffixing and NULL payload values
        right = right.withColumn("__lookup_m__", F.lit(True))
    out = merge2(
        left,
        right,
        on=on,
        how="left",
        keep=(None, keep),
        right_order_col=right_order_col,
        broadcast_right=broadcast_right,
        **kw,
    )
    if require_match:
        missing = out.where(F.col("__lookup_m__").isNull()).limit(1).count()
        if missing:
            raise ValueError("merge_lookup: unmatched left rows with require_match=True")
        out = out.drop("__lookup_m__")
    return out


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """ismember-mask filter idiom (rt_numpy.py:1186) → native left_semi."""
    on = [on] if isinstance(on, str) else list(on)
    return left.join(right.select(*on).dropDuplicates(on), on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    on = [on] if isinstance(on, str) else list(on)
    return left.join(right.select(*on).dropDuplicates(on), on=on, how="left_anti")


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """docs cross_join_using_merge2 recipe → native crossJoin."""
    return left.crossJoin(right)


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | list[str] | None = None,
    direction: str = "backward",
    allow_exact_matches: bool = True,
    tolerance=None,
    suffixes: tuple[str, str] = ("_x", "_y"),
    matched_on: str | None = None,
) -> DataFrame:
    """rt_merge.py:3572 merge_asof / rt_merge_asof.py merge_asof2 on Spark.

    Physical plan: tag both sides, unionByName, ONE shuffle+sort on
    (by, on, side-order), then ``last(col, ignorenulls=True)`` over the
    running window carries the most recent right-side values onto each
    left row — the distributed equivalent of the reference's two-pointer
    MultiKeyAlign32 scan (rt_utils.py:503-587). 'forward' flips the order;
    'nearest' = coalesce(backward, forward) by min distance.

    Scale: cost is one shuffle of |L|+|R| rows keyed on ``by`` — no
    range-explosion, skew handled by AQE. This beats a range-join rewrite
    (which duplicates right rows per band) at 100 TB.
    """
    by_cols = [by] if isinstance(by, str) else list(by or [])
    # Suffix overlapping non-key columns ONCE here so every later step
    # (nearest re-join, tolerance masking) knows exactly which output
    # columns came from the right side — deriving that from name-set
    # differences corrupts the left's own suffixed columns.
    overlap = (set(left.columns) & set(right.columns)) - set(by_cols) - {on}
    for c in overlap:
        left = left.withColumnRenamed(c, c + suffixes[0])
        right = right.withColumnRenamed(c, c + suffixes[1])
    payload = [c for c in right.columns if c not in by_cols and c != on]

    if direction == "nearest":
        # unique row id so the backward/forward halves re-join 1:1; the
        # re-join is on __nid__ ALONE — equi-joining on every left column
        # would null-unsafely drop left rows containing NULLs
        left = left.withColumn("__nid__", F.monotonically_increasing_id())
        b = _asof_one_direction(left, right, on, by_cols, "backward", allow_exact_matches, payload, "__t_b__")
        f = _asof_one_direction(left, right, on, by_cols, "forward", allow_exact_matches, payload, "__t_f__")
        f = f.select("__nid__", "__t_f__", *[F.col(c).alias(c + "__fwd") for c in payload])
        m = b.join(f, on="__nid__", how="inner")
        # pandas/riptable semantics: tolerance eliminates each direction's
        # candidate BEFORE nearest selection — a too-far backward match
        # must not shadow an in-tolerance forward match
        dist_b = F.col(on).cast("double") - F.col("__t_b__").cast("double")
        dist_f = F.col("__t_f__").cast("double") - F.col(on).cast("double")
        valid_b = F.col("__t_b__").isNotNull()
        valid_f = F.col("__t_f__").isNotNull()
        if tolerance is not None:
            valid_b = valid_b & (dist_b <= F.lit(tolerance))
            valid_f = valid_f & (dist_f <= F.lit(tolerance))
        use_fwd = F.when(~valid_b, F.lit(True)).when(~valid_f, F.lit(False)).otherwise(dist_f < dist_b)
        none_valid = ~valid_b & ~valid_f
        lcols = [c for c in left.columns if c != "__nid__"]
        out = m.select(
            *lcols,
            *[
                F.when(none_valid, F.lit(None))
                .when(use_fwd, F.col(c + "__fwd"))
                .otherwise(F.col(c))
                .alias(c)
                for c in payload
            ],
            F.when(none_valid, F.lit(None))
            .when(use_fwd, F.col("__t_f__"))
            .otherwise(F.col("__t_b__"))
            .alias("__matched_on__"),
        )
    else:
        out = _asof_one_direction(left, right, on, by_cols, direction, allow_exact_matches, payload, "__matched_on__")
        if tolerance is not None:
            dist = F.abs(F.col(on).cast("double") - F.col("__matched_on__").cast("double"))
            for c in payload:
                out = out.withColumn(c, F.when(dist <= F.lit(tolerance), F.col(c)))
            out = out.withColumn("__matched_on__", F.when(dist <= F.lit(tolerance), F.col("__matched_on__")))

    if matched_on:
        out = out.withColumnRenamed("__matched_on__", matched_on)
    else:
        out = out.drop("__matched_on__")
    return out


def _asof_one_direction(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by_cols: list[str],
    direction: str,
    allow_exact: bool,
    payload: list[str],
    matched_col: str,
) -> DataFrame:
    """Both sides arrive pre-renamed (suffixes applied by merge_asof);
    ``payload`` is the exact list of right-side value columns to carry."""
    left_tag = left.withColumn("__side__", F.lit(1))
    # Invalid (NULL) keys never match (rt_merge.py contract; sentinel
    # invalids are normalized to NULL at ingest). Right rows with NULL
    # `on` must not contribute matches — drop them before the union.
    # Left rows with NULL `on` are masked to no-match after the window
    # (desc ordering puts NULLS LAST, where they would otherwise absorb
    # the full carry).
    right_tag = (
        right.where(F.col(on).isNotNull())
        .withColumn(matched_col, F.col(on))
        .withColumn("__side__", F.lit(0))
    )
    unioned = left_tag.unionByName(right_tag, allowMissingColumns=True)

    # Order: for backward+allow_exact a right row at t sorts BEFORE a left
    # row at t (side 0 first) so last() sees it; for allow_exact=False it
    # sorts after (side desc puts left first at equal on).
    if direction == "backward":
        side_order = F.col("__side__").asc() if allow_exact else F.col("__side__").desc()
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).asc(), side_order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    elif direction == "forward":
        side_order = F.col("__side__").asc() if allow_exact else F.col("__side__").desc()
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).desc(), side_order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        raise ValueError(f"direction must be backward/forward/nearest, got {direction}")

    carried = [
        F.when(F.col(on).isNotNull(), F.last(F.col(c), ignorenulls=True).over(w)).alias(c)
        for c in payload + [matched_col]
    ]
    keep_cols = [c for c in left_tag.columns if c != "__side__"]
    result = (
        unioned.select(*keep_cols, F.col("__side__"), *carried)
        .where(F.col("__side__") == 1)
        .drop("__side__")
    )
    return result


# ---------------------------------------------------------------------------
# Key normalization (rt_utils.py:430 normalize_keys): make join keys on two
# tables the same type before merging. The reference upcasts itemsizes and
# aligns Categorical dictionaries; on Spark the analogue is casting both
# sides to the LOSSLESS common Catalyst type so the equi-join compares
# native values (and never falls into ANSI implicit-cast surprises).
_NUM_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3, "float": 4, "double": 5}


def _common_type(t1: str, t2: str) -> str:
    if t1 == t2:
        return t1
    if t1 in _NUM_RANK and t2 in _NUM_RANK:
        a, b = sorted((t1, t2), key=_NUM_RANK.get)
        # int ∪ float widens to double (the only lossless float target)
        if _NUM_RANK[b] >= 4 and _NUM_RANK[a] <= 3:
            return "double"
        return b
    if t1.startswith("decimal") or t2.startswith("decimal"):
        return "double"
    if "string" in (t1, t2):
        # reference pads string itemsizes; mixing string with non-string
        # keys is a type error there too
        if t1 == t2 == "string":
            return "string"
        raise TypeError(f"normalize_keys: cannot align {t1} with {t2}")
    if t1.startswith("timestamp") and t2.startswith("timestamp"):
        return "timestamp"
    raise TypeError(f"normalize_keys: cannot align {t1} with {t2}")


def normalize_keys(
    left: DataFrame, right: DataFrame, on: list[str] | str, right_on: list[str] | str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Cast the join keys of both frames to their lossless common type
    (rt_utils.py:430). Returns (left', right') ready for an equi-join.
    Key columns keep their names; non-key columns are untouched."""
    on = [on] if isinstance(on, str) else list(on)
    r_on = on if right_on is None else ([right_on] if isinstance(right_on, str) else list(right_on))
    lt, rt_ = dict(left.dtypes), dict(right.dtypes)
    for lc, rc in zip(on, r_on):
        tgt = _common_type(lt[lc], rt_[rc])
        if lt[lc] != tgt:
            left = left.withColumn(lc, F.col(lc).cast(tgt))
        if rt_[rc] != tgt:
            right = right.withColumn(rc, F.col(rc).cast(tgt))
    return left, right


def merge_prebinned(
    left: DataFrame, right: DataFrame, code_col: str, how: str = "inner"
) -> DataFrame:
    """Join two tables ALREADY coded against the same dictionary
    (rt_utils.py:370 merge_prebinned / rc.MergeBinnedAndSorted). The
    reference exploits prebinned keys to skip hashing; the Spark analogue
    is an equi-join on the integer code column — and when both sides were
    written bucketed by the code (sources.io.save_bucketed), the join is
    co-located with ZERO shuffle, which is exactly the prebinned promise
    at cluster scale. Codes must come from the SAME dictionary (same
    Categorical / cat2keys run) — same precondition as the reference."""
    return left.join(right, on=code_col, how=how)


def multikeyhash(df: DataFrame, cols: list[str], out_col: str = "__mkhash__") -> DataFrame:
    """64-bit multikey hash (rt_numpy.py:2307 multikeyhash → MultiKeyHash):
    one codegen xxhash64 over the key tuple. The reference returns
    first/next linked lists per hash bucket; those exist here as the
    make_ifirst/make_inext family (operators.positional)."""
    return df.withColumn(out_col, F.xxhash64(*[F.col(c) for c in cols]))


# ---------------------------------------------------------------------------
# Range / interval join (the custom-operator family the reference's asof
# join belongs to; no direct riptable equivalent — asof covers the
# "latest value at t" case, this covers "which interval contains t").


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by: list[str] | None = None,
    how: str = "inner",
    bucket_width: float | None = None,
) -> DataFrame:
    """Point-in-interval join: each left row matches right rows with
    ``start <= point < end`` (optionally also equal on ``by`` keys).

    Physical strategy: a naive ``ON p >= s AND p < e`` is a
    BroadcastNestedLoopJoin — O(|L|·|R|), the classic 100 TB
    scale-killer. With ``bucket_width`` set, both sides map to a coarse
    grid: points to ``floor(p/w)``, intervals EXPLODE to every bucket
    they overlap (cost = interval_span/w extra rows — pick w near the
    typical span), and the join becomes an EQUI-join on (by…, bucket)
    with the exact range predicate as a residual filter. AQE handles
    bucket skew like any keyed join. Without ``bucket_width`` the naive
    form is used (fine when one side broadcasts)."""
    p = F.col(point_col)
    on_exact = (p >= F.col(start_col)) & (p < F.col(end_col))
    keys = list(by or [])
    if bucket_width is None:
        cond = on_exact
        for k in keys:
            cond = cond & (left[k] == right[k])
        return left.join(right, on=cond, how=how)
    w = float(bucket_width)
    lb = left.withColumn("__bkt__", F.floor(p / F.lit(w)).cast("long"))
    span = F.sequence(
        F.floor(F.col(start_col) / F.lit(w)).cast("long"),
        # end is exclusive: an interval ending exactly on a bucket
        # boundary does not reach into that bucket — ceil(e/w)-1 is
        # exact for both integer and float domains (no epsilon hacks)
        F.greatest(
            F.ceil(F.col(end_col) / F.lit(w)).cast("long") - 1,
            F.floor(F.col(start_col) / F.lit(w)).cast("long"),
        ),
    )
    rb = right.withColumn("__bkt__", F.explode(span))
    joined = lb.join(rb, on=keys + ["__bkt__"], how="inner").where(on_exact).drop("__bkt__")
    if how == "inner":
        return joined
    if how == "left":
        # reattach unmatched left rows (anti-join on the matched set)
        matched = joined.select(*[lb[c] for c in left.columns]).distinct()
        unmatched = left.join(matched, on=left.columns, how="left_anti")
        for c in right.columns:
            if c not in left.columns:
                unmatched = unmatched.withColumn(c, F.lit(None))
        return joined.unionByName(unmatched, allowMissingColumns=True)
    raise ValueError(f"unsupported how={how!r} for bucketized range_join")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    by: list[str] | None = None,
    bucket_width: float | None = None,
) -> DataFrame:
    """Interval × interval overlap join (half-open intervals overlap iff
    ``ls < re AND rs < le``) — the sibling of range_join for
    session-vs-outage, position-vs-window style matches.

    Scale path mirrors range_join: BOTH sides explode to the coarse-grid
    buckets they span, the join is an equi-join on (by…, bucket) with
    the exact overlap predicate as residual, and duplicate matches from
    pairs overlapping in several buckets are canonicalized by keeping
    only the bucket containing max(ls, rs) — the overlap's first bucket
    — so no distinct/dedup shuffle is needed."""
    ls, le = F.col(left_start), F.col(left_end)
    rs, re_ = F.col(right_start), F.col(right_end)
    overlap = (ls < re_) & (rs < le)
    keys = list(by or [])
    if bucket_width is None:
        cond = overlap
        for k in keys:
            cond = cond & (left[k] == right[k])
        return left.join(right, on=cond, how="inner")
    w = float(bucket_width)

    def span(s, e):
        first = F.floor(s / F.lit(w)).cast("long")
        last = F.greatest(F.ceil(e / F.lit(w)).cast("long") - 1, first)
        return F.sequence(first, last)

    lb = left.withColumn("__bkt__", F.explode(span(ls, le)))
    rb = right.withColumn("__bkt__", F.explode(span(rs, re_)))
    first_shared = F.floor(F.greatest(ls, rs) / F.lit(w)).cast("long")
    return (
        lb.join(rb, on=keys + ["__bkt__"], how="inner")
        .where(overlap & (F.col("__bkt__") == first_shared))
        .drop("__bkt__")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff — the change-data-capture shape between two
    versions of a keyed table: one row per key that was ``added``,
    ``removed``, or ``changed`` (same key, different content hash).
    Unchanged keys are dropped.

    Physical shape: each side reduces to (key, xxhash64(content)) —
    8 bytes — BEFORE the full-outer equi-join on the keys, so the
    shuffle carries hashes, never the wide rows; at 100 TB the diff
    costs two scans plus a hash-keyed join of key+long. Hash collisions
    (2⁻⁶⁴ per pair) would misreport 'changed' as unchanged — the
    standard CDC trade, documented."""
    cc_old = compare_cols or [c for c in old.columns if c not in keys]
    cc_new = compare_cols or [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.xxhash64(*[F.col(c) for c in cc_old]).alias("__ho__"))
    n = new.select(*keys, F.xxhash64(*[F.col(c) for c in cc_new]).alias("__hn__"))
    j = o.join(n, on=keys, how="full_outer")
    status = (
        F.when(F.col("__ho__").isNull(), F.lit("added"))
        .when(F.col("__hn__").isNull(), F.lit("removed"))
        .when(F.col("__ho__") != F.col("__hn__"), F.lit("changed"))
    )
    return j.select(*keys, status.alias("diff_status")).where(F.col("diff_status").isNotNull())


def scd_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    bucket_width_days: int | None = 365,
    how: str = "inner",
) -> DataFrame:
    """Point-in-time join against a slowly-changing (SCD Type 2)
    dimension: each fact row matches the dimension version whose
    [valid_from, valid_to) window contains the fact's date — the
    "what did the customer record say WHEN the order happened" join
    every versioned-dim warehouse runs.

    Physical strategy = range_join's grid rewrite: with
    ``bucket_width_days`` the version windows explode to the coarse
    date buckets they overlap and the join is an EQUI-join on
    (key, bucket) + residual — never a nested loop (dimension versions
    span years, so a ~1-year bucket adds ≤ a few rows per version).
    Date columns may be DATE or TIMESTAMP; both sides convert to day
    numbers once, as codegen expressions."""
    day = F.datediff(F.col(ts_col), F.lit("1970-01-01"))
    f2 = facts.withColumn("__day__", day.cast("double"))
    d2 = (
        dim.withColumn("__from__", F.datediff(F.col(valid_from), F.lit("1970-01-01")).cast("double"))
        .withColumn("__to__", F.datediff(F.col(valid_to), F.lit("1970-01-01")).cast("double"))
    )
    out = range_join(
        f2, d2, "__day__", "__from__", "__to__",
        by=[key], how=how,
        bucket_width=float(bucket_width_days) if bucket_width_days else None,
    )
    return out.drop("__day__", "__from__", "__to__")


def merge_asof_topk(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    left_id_col: str,
    k: int = 3,
    tolerance: float = float("inf"),
    bucket_width: float | None = None,
    right_suffix: str = "_r",
) -> DataFrame:
    """Top-k as-of join: each left row matches its ``k`` most recent
    right rows at or before it on ``on`` (within ``tolerance``) — the
    "last k quotes per trade" generalization of merge_asof(k=1).

    Physical strategy: with a finite tolerance the match condition is a
    point-in-interval predicate (right.on ∈ (left.on − tol, left.on]),
    grid-rewritten by range_join to an equi-join on (by…, bucket) — so
    candidate volume is bounded by tolerance density, never |L|·|R|;
    the per-left top-k is a bounded window over candidates.  An
    unbounded tolerance degrades to per-key candidates (use merge_asof
    for k=1 there)."""
    from pyspark.sql import Window as _W

    if tolerance == float("inf"):
        raise NotImplementedError(
            "unbounded tolerance would enumerate every preceding right row per "
            "left row; pass a finite tolerance (or use merge_asof for k=1)"
        )
    tol = float(tolerance)
    lon = left.withColumn("__pt__", F.col(on).cast("double"))
    # rename right's non-key columns that collide with left
    ren = {}
    for c in right.columns:
        if c in left.columns and c not in by:
            ren[c] = c + right_suffix
    ron = right.select(*[F.col(c).alias(ren.get(c, c)) for c in right.columns])
    ron_on = ren.get(on, on)
    ron = (
        ron.withColumn("__start__", F.col(ron_on).cast("double"))
        .withColumn("__end__", (F.col(ron_on).cast("double") + tol))
    )
    cand = range_join(
        lon, ron, "__pt__", "__start__", "__end__",
        by=by, bucket_width=bucket_width or tol,
    )
    # partition on the LEFT row's identity (two left rows sharing the
    # same (by, on) must each receive their own top-k), rank most-recent
    # first with a deterministic tiebreak
    w = _W.partitionBy(*by, F.col(left_id_col)).orderBy(
        F.col("__start__").desc(), F.col(ron_on)
    )
    # point-in-[start, end) gives start <= pt < start+tol, i.e. the right
    # row is AT or BEFORE the left row and within tolerance — exactly
    # the backward-asof band
    out = cand.withColumn("asof_rank", F.row_number().over(w)).where(F.col("asof_rank") <= k)
    return out.drop("__pt__", "__start__", "__end__")


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    order_by: list[str] | None = None,
) -> DataFrame:
    """Apply a change-data-capture batch to a keyed snapshot — the
    MERGE INTO primitive (upsert + delete) without a table format:
    the LATEST change per key wins (``order_by`` descending, so ties
    need a total order), 'D' removes the key, anything else ('I'/'U')
    replaces or inserts the row; untouched base rows pass through.

    Physical shape: changes reduce to one row per key (windowed rank —
    the change batch is small next to the snapshot), then ONE anti-join
    knocks touched keys out of the base and a union appends the
    surviving upserts; the base is never sorted or widened.  This is
    exactly how Delta/Iceberg MERGE compiles when the source fits the
    broadcast threshold.
    """
    oc = order_by or []
    if oc:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in oc])
        latest = changes.withColumn("__rn__", F.row_number().over(w)).where(
            F.col("__rn__") == 1
        ).drop("__rn__")
    else:
        latest = changes
    touched = latest.select(*keys)
    kept = base.join(touched, on=keys, how="left_anti")
    upserts = latest.where(F.col(op_col) != "D").select(*base.columns)
    return kept.unionByName(upserts)


def scd2_build(
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    attr_cols: list[str],
    drop_noop: bool = True,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    log — the warehouse-side WRITER that :func:`scd_join` reads: per
    key, each change opens a version valid from its own timestamp until
    the NEXT change (NULL = current version).

    ``drop_noop=True`` first removes changes whose attributes equal the
    previous row's (idempotent replays, heartbeat snapshots), so
    versions only exist where something actually changed.  Validity
    bounds are emitted as epoch MICROSECOND BIGINTs (timestamps are
    hash-hostile across engines — ORACLES.md rule 21).  One sort window
    per key, no joins.  Returns
    (keys…, attrs…, valid_from_us, valid_to_us, version, is_current).
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    d = changes
    if drop_noop:
        changed = None
        for a in attr_cols:
            neq = ~(F.col(a).eqNullSafe(F.lag(F.col(a)).over(w)))
            changed = neq if changed is None else (changed | neq)
        first = F.row_number().over(w) == 1
        d = d.withColumn("__keep__", first | changed).where(F.col("__keep__")).drop("__keep__")
    w2 = Window.partitionBy(*keys).orderBy(order_col)
    t = F.unix_micros(F.col(order_col))
    d = d.withColumn("valid_from_us", t).withColumn(
        "valid_to_us", F.lead(t).over(w2)
    ).withColumn("version", F.row_number().over(w2))
    return d.select(
        *keys, *attr_cols, "valid_from_us", "valid_to_us", "version",
        F.col("valid_to_us").isNull().alias("is_current"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    by: list[str] | None = None,
    l_prefix: str = "l_",
    r_prefix: str = "r_",
) -> DataFrame:
    """Interval-OVERLAP join on half-open integer intervals: pairs
    where l.start < r.end AND r.start < l.end (optionally also equal
    on ``by`` keys) — the two-sided sibling of :func:`range_join`.

    Physical strategy (the 100 TB shape): both sides explode onto a
    coarse integer grid (floor(start/w) … floor((end−1)/w)) and the
    candidate join is a plain EQUI-join on (by…, cell) — never a
    nested loop.  A pair spanning several shared cells would be
    reported once PER cell, so each pair is claimed exactly once by
    the cell containing max(l.start, r.start) (exact integer
    arithmetic — the grid_neighbor_join report-once trick, no dedup
    pass), then the exact overlap predicate filters residuals.
    Intervals longer than ~dozens of cells explode proportionally —
    pick ``bucket_width`` near the typical interval length.  Returns
    by-keys plus every left/right column under ``l_prefix``/
    ``r_prefix`` and the overlap length ``overlap``.
    """
    by = by or []
    w = int(bucket_width)

    def explode_side(df: DataFrame, s: str, e: str, prefix: str) -> DataFrame:
        cols = [F.col(c).alias(prefix + c) for c in df.columns if c not in by]
        cell = F.explode(
            F.sequence(
                F.floor(F.col(s) / w).cast("long"),
                F.floor((F.col(e) - 1) / w).cast("long"),
            )
        )
        return df.where(F.col(s) < F.col(e)).select(*by, *cols, cell.alias("__cell__"))

    le = explode_side(left, l_start, l_end, l_prefix)
    re_ = explode_side(right, r_start, r_end, r_prefix)
    ls, le_c = F.col(l_prefix + l_start), F.col(l_prefix + l_end)
    rs, re_c = F.col(r_prefix + r_start), F.col(r_prefix + r_end)
    j = le.join(re_, on=[*by, "__cell__"])
    claimed = j.where(
        (F.col("__cell__") == F.floor(F.greatest(ls, rs) / w).cast("long"))
        & (ls < re_c) & (rs < le_c)
    )
    return claimed.drop("__cell__").withColumn(
        "overlap", (F.least(le_c, re_c) - F.greatest(ls, rs)).cast("long")
    )
