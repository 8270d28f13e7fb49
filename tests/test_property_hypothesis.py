"""Property-based tests (hypothesis) — the reference's own strategy
(riptable/hypothesis_tests/test_riptide_numpy_equivalency.py): engine
results must match the numpy/pandas oracle on arbitrary inputs. Here:
Spark groupby reduces and window cumulatives vs pandas on generated
frames. Bounded example counts keep the suite fast (Spark round-trips
are the expensive part, not case generation)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

FRAME = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group key
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.none(),  # NULL / riptable invalid
        ),
    ),
    min_size=1,
    max_size=60,
)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _to_spark(spark, rows):
    pdf = pd.DataFrame(rows, columns=["g", "x"])
    pdf["x"] = pdf["x"].astype("float64")
    pdf["i"] = range(len(pdf))
    sdf = spark.createDataFrame(
        [(int(g), int(i), None if pd.isna(x) else float(x)) for g, x, i in pdf.itertuples(index=False)],
        "g int, i int, x double",
    )
    return pdf, sdf


@given(rows=FRAME)
@settings(**_SETTINGS)
def test_groupby_reduces_match_pandas(spark, rows):
    pdf, df = _to_spark(spark, rows)
    got = {
        r.g: (r.s, r.m, r.v, r.n)
        for r in df.groupBy("g")
        .agg(
            F.sum("x").alias("s"),
            F.avg("x").alias("m"),
            F.var_samp("x").alias("v"),
            F.count("x").alias("n"),
        )
        .collect()
    }
    exp = pdf.groupby("g")["x"].agg(["sum", "mean", "var", "count"])
    for g, row in exp.iterrows():
        s, m, v, n = got[g]
        # pandas sum of all-NaN group is 0.0; SQL SUM is NULL — riptable's
        # nansum-of-empty is invalid, i.e. the SQL behavior
        if n == 0:
            assert s is None and m is None
            continue
        assert math.isclose(s, row["sum"], rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(m, row["mean"], rel_tol=1e-9, abs_tol=1e-9)
        assert int(n) == int(row["count"])
        if n >= 2:
            assert math.isclose(v, row["var"], rel_tol=1e-9, abs_tol=1e-6)


@given(rows=FRAME)
@settings(**_SETTINGS)
def test_cumsum_shift_match_pandas(spark, rows):
    pdf, df = _to_spark(spark, rows)
    w = Window.partitionBy("g").orderBy("i")
    out = df.select(
        "g",
        "i",
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        F.lag("x").over(w).alias("sh"),
    ).toPandas().set_index("i").sort_index()
    exp_cs = pdf.groupby("g")["x"].cumsum()
    exp_sh = pdf.groupby("g")["x"].shift()
    for i in pdf.index:
        # SQL window SUM skips NULLs (running sum continues through a
        # NULL row); pandas cumsum emits NaN AT the NaN row — compare
        # only where the input is non-null, where both agree.
        if not pd.isna(pdf.loc[i, "x"]):
            a, b = out.loc[i, "cs"], exp_cs[i]
            assert (pd.isna(a) and pd.isna(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        a, b = out.loc[i, "sh"], exp_sh[i]
        assert (pd.isna(a) and pd.isna(b)) or a == b


@given(
    vals=st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1,
        max_size=50,
    ),
    q=st.sampled_from([0.0, 0.25, 0.5, 0.75, 1.0]),
)
@settings(**_SETTINGS)
def test_percentile_matches_numpy(spark, vals, q):
    """Exact percentile parity with numpy linear interpolation — the
    interpolation riptable's GB_QUANTILE_MULT kernels use."""
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = df.agg(F.percentile(F.col("x"), F.lit(q)).alias("p")).first().p
    exp = float(np.percentile(np.array(vals), q * 100))
    assert math.isclose(got, exp, rel_tol=1e-9, abs_tol=1e-6)


@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=30
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=0, max_size=30
    ),
    how=st.sampled_from(["inner", "left", "outer"]),
)
@settings(**_SETTINGS)
def test_merge2_matches_pandas(spark, lrows, rrows, how):
    """merge2 row multiset vs pandas.merge on arbitrary key multisets —
    the reference's own oracle for joins (SURVEY §5)."""
    from riptable_spark.operators.merge import merge2

    lp = pd.DataFrame(lrows, columns=["k", "a"])
    rp = pd.DataFrame(rrows, columns=["k", "b"])
    ldf = spark.createDataFrame([(int(k), int(a)) for k, a in lrows], "k int, a int")
    rdf = spark.createDataFrame([(int(k), int(b)) for k, b in rrows], "k int, b int")
    got = merge2(ldf, rdf, on="k", how=how).toPandas()
    exp = lp.merge(rp, on="k", how=how)
    key = lambda df: sorted(  # noqa: E731
        (int(r.k), None if pd.isna(r.a) else int(r.a), None if pd.isna(r.b) else int(r.b))
        for r in df.itertuples()
    )
    assert key(got) == key(exp)


@given(
    ltimes=st.lists(st.integers(0, 1000), min_size=1, max_size=25, unique=True),
    rtimes=st.lists(st.integers(0, 1000), min_size=1, max_size=25, unique=True),
    direction=st.sampled_from(["backward", "forward"]),
    exact=st.booleans(),
)
@settings(**_SETTINGS)
def test_merge_asof_matches_pandas(spark, ltimes, rtimes, direction, exact):
    """merge_asof vs pandas.merge_asof — the reference's own oracle
    (tests/test_merge_asof.py imports pandas test data)."""
    from riptable_spark.operators.merge import merge_asof

    lp = pd.DataFrame({"t": sorted(ltimes)})
    rp = pd.DataFrame({"t": sorted(rtimes)})
    rp["v"] = rp["t"] * 10
    ldf = spark.createDataFrame([(int(t),) for t in lp["t"]], "t int")
    rdf = spark.createDataFrame([(int(t), int(v)) for t, v in rp.itertuples(index=False)], "t int, v int")
    got = {
        r.t: r.v
        for r in merge_asof(
            ldf, rdf, on="t", direction=direction, allow_exact_matches=exact
        ).collect()
    }
    exp_df = pd.merge_asof(lp, rp, on="t", direction=direction, allow_exact_matches=exact)
    for t, v in exp_df.itertuples(index=False):
        g = got[t]
        assert (pd.isna(v) and g is None) or g == v, (t, g, v)


@given(
    ltimes=st.lists(st.integers(0, 300), min_size=1, max_size=15, unique=True),
    rtimes=st.lists(st.integers(0, 300), min_size=1, max_size=15, unique=True),
    tol=st.one_of(st.none(), st.integers(1, 150)),
)
@settings(**_SETTINGS)
def test_merge_asof_nearest_tolerance_matches_pandas(spark, ltimes, rtimes, tol):
    """direction='nearest' with per-direction tolerance vs pandas."""
    from riptable_spark.operators.merge import merge_asof

    lp = pd.DataFrame({"t": sorted(ltimes)})
    rp = pd.DataFrame({"t": sorted(rtimes)})
    rp["v"] = rp["t"] * 10
    ldf = spark.createDataFrame([(int(t),) for t in lp["t"]], "t int")
    rdf = spark.createDataFrame(
        [(int(t), int(v)) for t, v in rp.itertuples(index=False)], "t int, v int"
    )
    got = {
        r.t: r.v
        for r in merge_asof(ldf, rdf, on="t", direction="nearest", tolerance=tol).collect()
    }
    exp_df = pd.merge_asof(lp, rp, on="t", direction="nearest", tolerance=tol)
    for t, v in exp_df.itertuples(index=False):
        g = got[t]
        assert (pd.isna(v) and g is None) or g == v, (t, g, v, tol)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    ),
    keep=st.sampled_from(["first", "last", "none"]),
)
@settings(**_SETTINGS)
def test_drop_duplicates_matches_pandas(spark, rows, keep):
    """The min/max-over-struct aggregation rewrite vs pandas
    drop_duplicates with an explicit total order."""
    from riptable_spark.operators.window import drop_duplicates

    pdf = pd.DataFrame(rows, columns=["k", "o", "p"]).drop_duplicates()  # unique (k,o,p)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in pdf.itertuples(index=False)],
        "k int, o int, p int",
    )
    got = drop_duplicates(df, ["k"], F.struct("o", "p"), keep=keep).toPandas()
    spdf = pdf.sort_values(["k", "o", "p"])
    if keep == "none":
        exp = spdf.groupby("k").filter(lambda g: len(g) == 1)
    else:
        exp = spdf.drop_duplicates(subset=["k"], keep=keep)
    key = lambda d: sorted(map(tuple, d[["k", "o", "p"]].itertuples(index=False)))  # noqa: E731
    assert key(got) == key(exp)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 300)),  # (group, tokens)
        min_size=1,
        max_size=50,
    ),
    budget=st.integers(min_value=50, max_value=500),
)
@settings(**_SETTINGS)
def test_pack_sequences_invariants(spark, rows, budget):
    """Contiguous packing invariants on arbitrary inputs: bins per group
    are 0..max contiguous and non-decreasing in doc order; every bin
    except a group's last holds ≥ budget tokens ONLY if it closed
    (i.e., a bin's exclusive-prefix start is bin*budget); and bin
    assignment equals floor(prefix/budget) recomputed in pandas."""
    from riptable_spark.operators import pipeline as pl

    sdf = spark.createDataFrame(
        [(i, g, t) for i, (g, t) in enumerate(rows)], "i int, g int, t int"
    )
    out = (
        pl.pack_sequences(sdf, ["g"], "i", "t", budget)
        .orderBy("g", "i")
        .collect()
    )
    pdf = pd.DataFrame(rows, columns=["g", "t"])
    pdf["i"] = range(len(pdf))
    pdf = pdf.sort_values(["g", "i"])
    pdf["prefix"] = pdf.groupby("g")["t"].cumsum() - pdf["t"]
    expected = (pdf["prefix"] // budget).tolist()
    assert [r.bin for r in out] == expected
    for g, grp in pd.DataFrame([(r.g, r.bin) for r in out], columns=["g", "b"]).groupby("g"):
        bins = grp["b"].tolist()
        assert bins == sorted(bins)


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=80, unique=True),
    w1=st.floats(0.1, 0.9),
)
@settings(**_SETTINGS)
def test_hash_split_exhaustive_and_stable(spark, ids, w1):
    """Every row lands in exactly one split; assignment is a pure
    function of the id (independent of row order / partitioning)."""
    from riptable_spark.operators import pipeline as pl

    w = {"a": w1, "b": 1.0 - w1}
    df1 = spark.createDataFrame([(i,) for i in ids], "id int")
    df2 = spark.createDataFrame([(i,) for i in reversed(ids)], "id int").repartition(7)
    m1 = {r.id: r.split for r in pl.hash_split(df1, "id", w).collect()}
    m2 = {r.id: r.split for r in pl.hash_split(df2, "id", w).collect()}
    assert m1 == m2
    assert set(m1) == set(ids) and set(m1.values()) <= {"a", "b"}


MATRIX_ROW = st.tuples(
    *[
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.just(float("nan")),
            st.none(),
        )
        for _ in range(3)
    ]
)


@given(rows=st.lists(MATRIX_ROW, min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_imatrix_horizontal_matches_numpy(spark, rows):
    """imatrix_y nan* reductions vs np.nan* row-wise on arbitrary
    matrices with NaN and NULL holes (both are riptable invalids)."""
    from riptable_spark.operators import imatrix as im

    pdf = pd.DataFrame(rows, columns=["a", "b", "c"], dtype="float64")
    pdf.insert(0, "i", range(len(pdf)))
    df = spark.createDataFrame(pdf)
    got = (
        im.imatrix_y(df, ["nansum", "nanmean", "nanmin", "nanmax"],
                     colnames=["a", "b", "c"], names=["s", "m", "lo", "hi"])
        .orderBy("i")
        .toPandas()
    )
    mat = pdf[["a", "b", "c"]].to_numpy()  # NULL→NaN via float64 dtype
    with np.errstate(all="ignore"):
        np.testing.assert_allclose(got["s"], np.nansum(mat, axis=1), rtol=1e-9)
        exp_mean = np.where(np.all(np.isnan(mat), axis=1), np.nan, np.nanmean(mat, axis=1))
        exp_lo = np.where(np.all(np.isnan(mat), axis=1), np.nan, np.nanmin(mat, axis=1))
        exp_hi = np.where(np.all(np.isnan(mat), axis=1), np.nan, np.nanmax(mat, axis=1))
    np.testing.assert_allclose(got["m"], exp_mean, rtol=1e-9)
    np.testing.assert_allclose(got["lo"], exp_lo, rtol=1e-9)
    np.testing.assert_allclose(got["hi"], exp_hi, rtol=1e-9)


@given(
    days=st.lists(st.integers(min_value=0, max_value=3650), min_size=1, max_size=30, unique=True),
    offsets=st.lists(st.integers(min_value=-400, max_value=400), min_size=1, max_size=5),
    n_holidays=st.integers(min_value=0, max_value=12),
)
@settings(**_SETTINGS)
def test_calendar_busday_count_matches_numpy(spark, days, offsets, n_holidays):
    """Calendar.business_days_between == np.busday_count on arbitrary
    date pairs (either order) with arbitrary holiday sets."""
    import datetime as dt

    from riptable_spark.functions.calendar import Calendar

    base = dt.date(2020, 1, 1)
    holidays = [base + dt.timedelta(days=(h * 97) % 3650) for h in range(n_holidays)]
    cal = Calendar(holidays)
    pairs = [
        (base + dt.timedelta(days=d), base + dt.timedelta(days=d + o))
        for d in days
        for o in offsets
    ]
    df = spark.createDataFrame(pairs, "a date, b date")
    out = df.select("a", "b", cal.business_days_between(F.col("a"), F.col("b")).alias("n")).collect()
    for r in out:
        assert r.n == int(np.busday_count(r.a, r.b, holidays=holidays)), (r.a, r.b, holidays)


@given(
    vals=st.lists(
        st.one_of(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), st.none()),
        min_size=2,
        max_size=120,
    ),
    keys=st.lists(st.integers(min_value=0, max_value=3), min_size=2, max_size=120),
    qs=st.lists(st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=3),
)
@settings(**_SETTINGS)
def test_quantile_ranged_equals_sorted_property(spark, vals, keys, qs):
    """quantile_ranged (range-partitioned rank arithmetic) is bit-equal
    to quantile_sorted on arbitrary keyed float data with NULLs, ties,
    and degenerate groups."""
    from riptable_spark.operators import groupby as gb

    n = min(len(vals), len(keys))
    rows = [(int(keys[i]), vals[i]) for i in range(n)]
    df = spark.createDataFrame(rows, "k int, v double")
    names = [f"q{i}" for i in range(len(qs))]
    a = {r.k: tuple(r[c] for c in names) for r in gb.quantile_sorted(df, ["k"], "v", qs).collect()}
    b = {r.k: tuple(r[c] for c in names) for r in gb.quantile_ranged(df, ["k"], "v", qs, npartitions=4).collect()}
    assert set(a) == set(b)
    for k in a:
        for x, y in zip(a[k], b[k]):
            assert (x is None and y is None) or x == y or math.isclose(x, y, rel_tol=1e-12), (k, a[k], b[k])


@given(
    texts=st.lists(st.text(alphabet="abc \n", max_size=60), min_size=1, max_size=12),
    chunk_size=st.integers(min_value=2, max_value=20),
    overlap=st.integers(min_value=0, max_value=19),
)
@settings(**_SETTINGS)
def test_chunk_documents_properties(spark, texts, chunk_size, overlap):
    """chunk_documents invariants on arbitrary text/size/overlap:
    every chunk ≤ chunk_size chars; consecutive chunks overlap exactly
    `overlap` (except a final short chunk); stripping the overlap
    reconstructs the document; empty docs produce nothing."""
    import pytest as _pytest

    from riptable_spark.operators import pipeline as pl

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if overlap >= chunk_size:
        with _pytest.raises(ValueError):
            pl.chunk_documents(df, chunk_size=chunk_size, overlap=overlap)
        return
    step = chunk_size - overlap
    out = pl.chunk_documents(df, chunk_size=chunk_size, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
        assert 1 <= r.chunk_len <= chunk_size
        assert r.chunk_len == len(r.chunk)
    for i, t in rows:
        if not t:
            assert i not in by_doc
            continue
        chunks = by_doc[i]
        assert len(chunks) == len(range(0, len(t), step))
        rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
        assert rebuilt == t, (t, chunks)


@given(
    rates=st.dictionaries(
        st.sampled_from(["d0", "d1", "d2"]),
        st.floats(min_value=0.0, max_value=1.0),
        min_size=1, max_size=3,
    ),
    default=st.floats(min_value=0.0, max_value=1.0),
)
@settings(**_SETTINGS)
def test_mixture_sample_properties(spark, rates, default):
    """mixture_sample invariants on arbitrary rate maps: kept set is a
    deterministic pure function of (id, rates) — rerun-identical; every
    kept row satisfies its domain's hash threshold exactly (replayed in
    Python); rate 0 keeps nothing, rate 1 keeps everything."""
    from riptable_spark.operators import pipeline as pl

    rows = [(i, f"d{i % 4}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    kept1 = {r.doc_id for r in pl.mixture_sample(df, "dom", rates, default_rate=default, buckets=1000).collect()}
    kept2 = {r.doc_id for r in pl.mixture_sample(df, "dom", rates, default_rate=default, buckets=1000).collect()}
    assert kept1 == kept2
    bucket = {
        r.doc_id: r.b
        for r in df.select("doc_id", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(1000)).alias("b")).collect()
    }
    for i, dom in rows:
        thr = int(rates.get(dom, default) * 1000)
        assert (i in kept1) == (bucket[i] < thr), (i, dom, thr, bucket[i])


WEIGHTS = st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=25)


@given(ws=WEIGHTS, total=st.integers(min_value=0, max_value=100000))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_allocate_proportional_properties(spark, ws, total):
    """Hamilton apportionment: exact total, quota-within-1, zero weight
    gets zero."""
    from riptable_spark.operators.reshape import allocate_proportional

    if sum(ws) == 0:
        return
    df = spark.createDataFrame(list(enumerate(ws)), "k long, w long")
    out = allocate_proportional(df, ["k"], "w", total).collect()
    assert sum(r["allocated"] for r in out) == total
    W = sum(ws)
    for r in out:
        quota = total * ws[r["k"]] / W
        assert math.floor(quota) <= r["allocated"] <= math.ceil(quota)
        if ws[r["k"]] == 0:
            assert r["allocated"] == 0


SEQ = st.lists(
    st.tuples(st.integers(0, 2), st.one_of(st.integers(0, 5), st.none())),
    min_size=1, max_size=50,
)


@given(rows=SEQ)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_running_distinct_matches_pandas(spark, rows):
    from riptable_spark.operators.window import running_distinct

    data = [(k, t, v) for t, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, t long, v long")
    got = {(r["k"], r["t"]): r["running_distinct"] for r in
           running_distinct(df, ["k"], "v", ["t"]).collect()}
    seen: dict[int, set] = {}
    for k, t, v in data:
        s = seen.setdefault(k, set())
        if v is not None:
            s.add(v)
        assert got[(k, t)] == len(s)


EDGES = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1, max_size=120,
)


@given(edges=EDGES)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """Pointer-jumping label propagation must equal a plain union-find
    on arbitrary random graphs (the round-5 perf rewrite changed the
    ROUND structure; the fixed point — min reachable id — must not
    move)."""
    from riptable_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    nodes = {n for e in edges for n in e}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            want[n] = m
    assert got == want


@given(edges=EDGES)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_connected_components_isolated_per_group(spark, edges):
    """group_cols= must resolve each group's graph independently: running
    the SAME graph under two group keys gives identical per-group labels,
    and never lets labels leak across groups."""
    from riptable_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    rows = [("g1", a, b) for a, b in edges] + [("g2", a, b) for a, b in edges]
    df = spark.createDataFrame(rows, "grp string, id_a long, id_b long")
    out = connected_components(df, group_cols=["grp"]).collect()
    by_grp: dict[str, dict] = {"g1": {}, "g2": {}}
    for r in out:
        by_grp[r["grp"]][r["node"]] = r["component"]
    assert by_grp["g1"] == by_grp["g2"] and len(by_grp["g1"]) > 0


DOMAINS = st.lists(
    st.tuples(st.integers(1, 5000), st.sampled_from([10, 15, 20, 25, 30])),
    min_size=1, max_size=8,
)


@given(doms=DOMAINS, budget=st.integers(1, 60_000))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_epoch_allocation_invariants(spark, doms, budget):
    """Water-filling invariants on random inputs: allocations are
    non-negative, never exceed the per-domain cap, sum EXACTLY to
    min(budget, total capacity), and every saturated domain's cap/w
    ratio is <= every unsaturated domain's (the frontier is a prefix
    of the ratio order)."""
    from riptable_spark.operators.pipeline import epoch_allocation

    rows = [(f"d{i}", a, w) for i, (a, w) in enumerate(doms)]
    df = spark.createDataFrame(rows, "domain string, available long, weight long")
    out = epoch_allocation(
        df, "domain", "available", "weight",
        budget=budget, max_epochs=4, weight_scale=300,
    ).collect()
    total_cap = sum(4 * a for _, a, _ in rows)
    assert all(0 <= r["alloc_tokens"] <= r["capacity"] for r in out)
    assert sum(r["alloc_tokens"] for r in out) == min(budget, total_cap)
    sat_ratios = [(r["capacity"], r["weight"]) for r in out if r["saturated"]]
    uns_ratios = [(r["capacity"], r["weight"]) for r in out if not r["saturated"]]
    for cs, ws in sat_ratios:
        for cu, wu in uns_ratios:
            assert cs * wu <= cu * ws  # cap/w sorted: saturated prefix
    # saturated domains hit the cap exactly
    assert all(r["alloc_tokens"] == r["capacity"] for r in out if r["saturated"])
