"""Unit tests for the batch-10 operators: fuzzy decontamination, DSIR
importance reweighting, conditional bigram LM scoring, rolling
skew/kurtosis (pandas-parity)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from riptable_spark.operators import pipeline as pl
from riptable_spark.operators import text as tx
from riptable_spark.operators import window as win


def _docs(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_decontaminate_fuzzy_drops_near_copies_keeps_rest(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely unrelated text about spark window aggregation internals"),
            (3, None),
        ],
    )
    bench = _docs(
        spark,
        [(900, "the quick brown fox jumps over the lazy dog again and again today EXTRA")],
    )
    kept = {
        r.doc_id
        for r in pl.decontaminate_fuzzy(
            corpus, bench, threshold=0.5, num_perm=32, bands=8, shingle_n=3
        ).collect()
    }
    # doc 1 is a near-copy of the bench item -> dropped; NULL text can
    # never be flagged -> survives
    assert kept == {2, 3}


def test_importance_weights_prefer_target_like_docs(spark):
    target_style = "alpha beta gamma delta epsilon zeta"
    raw_style = "one two three four five six seven"
    corpus = _docs(
        spark,
        [(i, target_style) for i in range(3)] + [(i, raw_style) for i in range(3, 10)],
    )
    target = _docs(spark, [(100 + i, target_style) for i in range(4)])
    w = {r.doc_id: r.logratio for r in pl.importance_weights(corpus, target, n_buckets=256).collect()}
    assert min(w[i] for i in range(3)) > max(w[i] for i in range(3, 10))


def test_importance_resample_top_k_deterministic(spark):
    corpus = _docs(
        spark,
        [(i, "alpha beta gamma") for i in range(4)] + [(i, "noise junk filler") for i in range(4, 12)],
    )
    target = _docs(spark, [(50, "alpha beta gamma delta")])
    sel1 = {r.doc_id for r in pl.importance_resample(corpus, target, k=4).collect()}
    sel2 = {r.doc_id for r in pl.importance_resample(corpus, target, k=4).collect()}
    assert sel1 == sel2 == {0, 1, 2, 3}


def test_bigram_logprob_hand_checked(spark):
    # corpus: "a b a b" and "a b c".  bigram-first counts: a->3, b->2(+c? no)
    # bigrams: (a b)x3, (b a)x1, (b c)x1.  min_count=2 keeps only "a b".
    d = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    out = {r.doc_id: r for r in tx.bigram_logprob(d, min_count=2).collect()}
    # doc1: bigrams [a b, b a, a b]; c1(a)=3, c1(b)=2
    #   lp(a b)=ln(3/3)=0, lp(b a)=floor ln(1/(2+1)), lp(a b)=0
    exp1 = (0.0 + math.log(1 / 3) + 0.0) / 3
    # doc2: [a b, b c]; lp(a b)=0, lp(b c)=floor ln(1/3)
    exp2 = (0.0 + math.log(1 / 3)) / 2
    assert out[1].n_bigrams == 3 and abs(out[1].avg_logprob - exp1) < 1e-12
    assert out[2].n_bigrams == 2 and abs(out[2].avg_logprob - exp2) < 1e-12
    assert abs(out[2].perplexity - math.exp(-exp2)) < 1e-12


@pytest.mark.parametrize("fn,pandas_fn,minp", [("skew", "skew", 3), ("kurt", "kurt", 4)])
def test_rolling_skew_kurt_match_pandas(spark, fn, pandas_fn, minp):
    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4, 6, 2, 6]
    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    df = spark.createDataFrame(pdf)
    w = W.orderBy("i")
    col = (win.rolling_skew if fn == "skew" else win.rolling_kurt)(F.col("x"), w, 5)
    got = [r.v for r in df.select("i", col.alias("v")).orderBy("i").collect()]
    want = getattr(pdf["x"].rolling(5, min_periods=minp), pandas_fn)().tolist()
    for g, e in zip(got, want):
        if e != e:  # NaN
            # ours also NULLs zero-variance windows pandas NaNs via 0/0
            assert g is None or abs(g) < 1e-9
        else:
            assert g is not None and abs(g - e) < 1e-9


def test_target_encode_exact_matches_float_and_loo_semantics(spark):
    import numpy as np

    from riptable_spark.operators import groupby as gb

    rng = [(i, i % 3, (i * 7) % 50) for i in range(60)]
    df = spark.createDataFrame(pd.DataFrame(rng, columns=["o", "k", "y"]))
    te = gb.target_encode(df, "k", "y", smoothing=10, out_col="te")
    tex = gb.target_encode(df, "k", "y", smoothing=10, out_col="te", exact=True)
    a = {r.o: r.te for r in te.collect()}
    b = {r.o: r.te for r in tex.collect()}
    for o in a:
        assert abs(a[o] - b[o]) < 1e-9
    # LOO: hand-check one row.  key 0 rows: y = (7i mod 50) for i%3==0
    ys = {i: (i * 7) % 50 for i in range(60)}
    k0 = [y for i, y in ys.items() if i % 3 == 0]
    prior = sum(ys.values()) / 60
    loo = gb.target_encode(df, "k", "y", smoothing=10, loo=True, out_col="v", exact=True)
    got = {r.o: r.v for r in loo.collect()}
    exp0 = (sum(k0) - ys[0] + 10 * prior) / (len(k0) - 1 + 10)
    assert abs(got[0] - exp0) < 1e-9


def test_acf_matches_numpy_pearson(spark):
    import numpy as np

    from riptable_spark.operators import window as wn

    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4]
    pdf = pd.DataFrame({"k": ["a"] * len(vals), "i": range(len(vals)), "x": vals})
    df = spark.createDataFrame(pdf)
    out = {(r.k, r.lag): r for r in wn.acf(df, "k", "i", "x", lags=3).collect()}
    arr = np.array(vals, dtype=float)
    for lag in (1, 2, 3):
        x, y = arr[lag:], arr[:-lag]
        exp = np.corrcoef(x, y)[0, 1]
        r = out[("a", lag)]
        assert r.n_pairs == len(vals) - lag
        assert abs(r.acf - exp) < 1e-9


def test_audio_features_int_on_synthesized_wav():
    import numpy as np

    from riptable_spark.operators import multimodal as mm

    s = np.array([100, -200, 300, 0, -1, 1, 32767, -32768], dtype="<i2")
    payload = mm.encode_wav(s, channels=2, sample_rate=22050)
    f = mm.audio_features_int(payload)
    k = s.astype(np.int64)
    nonneg = k >= 0
    assert f["channels"] == 2 and f["sample_rate"] == 22050
    assert f["n_samples"] == 8
    assert f["zero_crossings"] == int(np.count_nonzero(nonneg[:-1] != nonneg[1:]))
    assert f["energy_scaled"] == int(np.sum(k * k))
    assert f["peak_scaled"] == 32768
    assert mm.audio_features_int(b"not a wav") is None


def test_mutual_info_identical_and_independent(spark):
    import math

    from riptable_spark.functions import stats as st

    # identical columns: MI == H(A) == H(B), NMI == 1
    rows = [("x",), ("x",), ("y",), ("z",)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["a"])).withColumn("b", F.col("a"))
    r = st.mutual_info(df, "a", "b").first()
    h = -(0.5 * math.log(0.5) + 0.25 * math.log(0.25) * 2)
    assert abs(r.mi - h) < 1e-12 and abs(r.h_a - h) < 1e-12 and abs(r.nmi - 1.0) < 1e-12
    # perfectly independent (balanced product design): MI == 0
    prod = [(a, b) for a in "xy" for b in "uv" for _ in range(3)]
    df2 = spark.createDataFrame(pd.DataFrame(prod, columns=["a", "b"]))
    r2 = st.mutual_info(df2, "a", "b").first()
    assert abs(r2.mi) < 1e-12 and abs(r2.nmi) < 1e-12


def test_psi_zero_on_identical_distributions(spark):
    from riptable_spark.functions import stats as st

    pdf = pd.DataFrame({"v": [float(i % 10) * 10 for i in range(100)]})
    a = spark.createDataFrame(pdf)
    r = st.psi(a, a, "v", bins=10, lo=0.0, hi=100.0).first()
    assert abs(r.psi) < 1e-12


def test_group_entropy_uniform_and_point_mass(spark):
    import math

    from riptable_spark.functions import stats as st

    rows = [("g1", c) for c in "abcd"] + [("g2", "a")] * 4
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v"]))
    out = {r.k: r for r in st.group_entropy(df, "k", "v").collect()}
    assert abs(out["g1"].entropy - math.log(4)) < 1e-12 and abs(out["g1"].hhi - 0.25) < 1e-12
    assert abs(out["g2"].entropy) < 1e-12 and abs(out["g2"].hhi - 1.0) < 1e-12


def test_corpus_overlap_identical_and_disjoint(spark):
    from riptable_spark.operators import text as tx

    rows = [
        ("s1", "alpha beta gamma delta epsilon"),
        ("s2", "alpha beta gamma delta epsilon"),
        ("s3", "one two three four five"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["source", "text"]))
    out = {(r.group_a, r.group_b): r for r in tx.corpus_overlap(df, "source", "text", shingle_n=3).collect()}
    assert abs(out[("s1", "s2")].jaccard - 1.0) < 1e-12
    assert ("s1", "s3") not in out and ("s2", "s3") not in out  # zero overlap -> no row


def test_robust_stats_hand_checked(spark):
    from riptable_spark.operators import groupby as gb

    vals = [1, 2, 3, 4, 5, 100]  # median 3.5, deviations [2.5,1.5,.5,.5,1.5,96.5], MAD 1.5
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 6, "x": vals}))
    r = gb.robust_stats(df, "k", "x", k=3.0).first()
    assert r.median == 3.5 and r.mad == 1.5
    assert r.n_outliers == 1  # only 100 exceeds 3*1.5 = 4.5


def test_weighted_stats_matches_numpy(spark):
    import numpy as np

    from riptable_spark.operators import groupby as gb

    x = [1, 2, 3, 4]
    w = [1, 1, 2, 4]
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 4, "x": x, "w": w}))
    r = gb.weighted_stats(df, "k", "x", "w").first()
    exp_mean = np.average(x, weights=w)
    exp_var = np.average((np.array(x, dtype=float) - exp_mean) ** 2, weights=w)
    assert abs(r.w_mean - exp_mean) < 1e-12 and abs(r.w_var - exp_var) < 1e-12
    assert r.w_total == 8.0


def test_hits_converges_to_star_structure(spark):
    from riptable_spark.operators import graph

    # star: everyone links to 0; 0 links to 1.  Node 0 = authority, others hubs.
    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    out = {r.node: r for r in graph.hits(df, n_iter=3).collect()}
    assert out[0].authority > 0.7 and all(out[i].authority < 0.3 for i in range(2, 5))
    assert all(out[i].hub > out[0].hub * 0.9 for i in range(1, 5))
    tot_a = sum(r.authority for r in out.values())
    assert abs(tot_a - 1.0) < 1e-12  # L1 normalized


def test_group_centroids_exact_and_cosine(spark):
    import numpy as np

    from riptable_spark.operators import similarity as sim

    vecs = [(0, [1.0, 0.0]), (0, [3.0, 0.0]), (1, [0.0, 2.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(
        pd.DataFrame({"label": [v[0] for v in vecs], "embedding": [v[1] for v in vecs]})
    )
    cents = {r.label: r for r in sim.group_centroids(df, "label").collect()}
    assert cents[0].centroid == [2.0, 0.0] and cents[0].n_vecs == 2
    assert cents[1].centroid == [0.0, 2.0]
    cdf = sim.group_centroids(df, "label")
    out = {(r.group_a, r.group_b): r.cos_sim for r in sim.centroid_similarity(cdf, "label").collect()}
    assert abs(out[(0, 1)]) < 1e-12                      # orthogonal
    assert abs(out[(0, 2)] - 1 / np.sqrt(2)) < 1e-12     # 45 degrees
    assert abs(out[(1, 2)] - 1 / np.sqrt(2)) < 1e-12


def test_curriculum_order_stage_monotone_in_score(spark):
    from riptable_spark.operators import pipeline as pl

    pdf = pd.DataFrame({"doc_id": range(40), "s": [i * 2 for i in range(40)]})
    df = spark.createDataFrame(pdf)
    out = sorted((r.s, r.stage) for r in pl.curriculum_order(df, "s", "doc_id", n_stages=4).collect())
    stages = [st for _, st in out]
    assert stages == sorted(stages)           # higher score -> same or later stage
    assert set(stages) == {0, 1, 2, 3}
    sizes = [stages.count(i) for i in range(4)]
    assert max(sizes) - min(sizes) <= 2       # near-balanced quartiles
    # deterministic: rerun identical
    again = sorted((r.s, r.stage) for r in pl.curriculum_order(df, "s", "doc_id", n_stages=4).collect())
    assert out == again


def test_pca_top_component_recovers_dominant_axis(spark):
    import numpy as np

    from riptable_spark.operators import similarity as sim

    rng = np.random.RandomState(7)
    # variance 25 along (1,1)/sqrt2, variance ~0.01 orthogonal
    t = rng.randn(200) * 5.0
    noise = rng.randn(200) * 0.1
    pts = np.stack([t / np.sqrt(2) - noise / np.sqrt(2), t / np.sqrt(2) + noise / np.sqrt(2)], axis=1)
    df = spark.createDataFrame(pd.DataFrame({"embedding": pts.tolist()}))
    v, frac = sim.pca_top_component(df, "embedding", n_power_iter=100)
    axis = np.array([1.0, 1.0]) / np.sqrt(2)
    assert abs(abs(np.dot(v, axis)) - 1.0) < 1e-3
    assert frac > 0.99


def test_transition_matrix_hand_checked(spark):
    from riptable_spark.operators import window as wn

    seq = [("u", 1, "a"), ("u", 2, "b"), ("u", 3, "a"), ("u", 4, "b"), ("u", 5, "c"), ("v", 1, "a"), ("v", 2, "b")]
    df = spark.createDataFrame(pd.DataFrame(seq, columns=["k", "i", "s"]))
    out = {(r.from_state, r.to_state): r for r in wn.transition_matrix(df, "k", "i", "s").collect()}
    assert out[("a", "b")].n == 3 and abs(out[("a", "b")].p - 1.0) < 1e-12
    assert out[("b", "a")].n == 1 and abs(out[("b", "a")].p - 0.5) < 1e-12
    assert out[("b", "c")].n == 1 and abs(out[("b", "c")].p - 0.5) < 1e-12


def test_cusum_changepoint_locates_level_shift(spark):
    from riptable_spark.operators import window as wn

    vals = [0] * 20 + [10] * 20  # shift at position 20; |CUSUM| peaks there
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 40, "i": range(40), "x": vals}))
    r = wn.cusum_changepoint(df, "k", "i", "x").first()
    assert r.cp_pos == 20 and r.n == 40
    assert abs(r.max_abs_cusum - 100.0) < 1e-9  # 20 rows * |0 - 5|


def test_json_extract_functions(spark):
    from riptable_spark.functions.strings import json_has, json_long, json_str

    pdf = pd.DataFrame({"p": ['{"k": 5, "s": "x"}', '{"s": "y"}', "not json", None]})
    df = spark.createDataFrame(pdf)
    rows = df.select(
        json_long(F.col("p"), "k").alias("k"),
        json_str(F.col("p"), "s").alias("s"),
        json_has(F.col("p"), "k").alias("h"),
    ).collect()
    assert [r.k for r in rows] == [5, None, None, None]
    assert [r.s for r in rows] == ["x", "y", None, None]
    assert [r.h for r in rows] == [True, False, False, False]


def test_attribute_last_touch_hand_checked(spark):
    from riptable_spark.operators import window as wn

    seq = [
        (1, "u", 1, "click"), (2, "u", 2, "view"), (3, "u", 3, "purchase"),
        (4, "u", 4, "purchase"), (5, "v", 1, "purchase"), (6, "v", 2, "click"),
    ]
    df = spark.createDataFrame(pd.DataFrame(seq, columns=["event_id", "k", "i", "t"]))
    out = {r.conversion_id: r for r in wn.attribute_last_touch(
        df, "k", "i", "t", ["click", "view"], ["purchase"]).collect()}
    assert out[3].touch_id == 2 and out[3].touch_type == "view"
    assert out[4].touch_id == 2          # still the last preceding touch
    assert out[5].touch_id is None       # conversion before any touch


def test_featurize_hashed_counts_and_shape(spark):
    from riptable_spark.operators import text as tx

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b a"]}))
    feats = tx.featurize_hashed(df, n_features=8).first().features
    assert len(feats) == 8 and sum(feats) == 3 and sorted(feats)[-2:] == [1, 2]


def test_rrf_fuse_hand_checked(spark):
    from riptable_spark.operators import retrieval as rt

    r1 = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3], "rank": [1, 2, 3]}))
    r2 = spark.createDataFrame(pd.DataFrame({"doc_id": [3, 4], "rank": [1, 2]}))
    out = {r.doc_id: r for r in rt.rrf_fuse([r1, r2], k=60).collect()}
    assert abs(out[3].rrf_score - (1 / 63 + 1 / 61)) < 1e-12
    assert abs(out[1].rrf_score - 1 / 61) < 1e-12
    assert abs(out[4].rrf_score - 1 / 62) < 1e-12
    assert out[3].rank == 1  # appears in both -> wins


def test_seasonal_zscore_flags_offseason_spike(spark):
    from riptable_spark.functions import stats as st

    rows = [("h0", v) for v in [10, 12, 11, 9, 10, 8, 100]] + [("h1", v) for v in [100, 104, 96, 101, 99]]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["h", "x"]))
    z = {(r.h, r.x): r.z for r in st.seasonal_zscore(df, "h", "x").collect()}
    assert z[("h0", 100)] > 2.0            # spike vs its own quiet bucket
    assert abs(z[("h1", 100)]) < 0.5       # same value, normal in its bucket


def test_fill_time_gaps_dense_and_carried(spark):
    import datetime as dt

    from riptable_spark.operators import window as wn

    rows = [
        ("u", dt.datetime(2024, 1, 1, 0, 30), 1.0, 1),
        ("u", dt.datetime(2024, 1, 1, 3, 10), 4.0, 2),  # 2 empty hours between
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "ts", "v", "i"]))
    out = sorted(
        wn.fill_time_gaps(df, "k", "ts", "v", step_seconds=3600, id_col="i").collect(),
        key=lambda r: r.bucket_ts,
    )
    assert len(out) == 4                       # hours 0,1,2,3 — dense
    assert [r.v for r in out] == [1.0, 1.0, 1.0, 4.0]
    assert [r.was_gap for r in out] == [False, True, True, False]


def test_weighted_median_hand_checked(spark):
    from riptable_spark.operators import groupby as gb

    # values 1,2,3 with weights 1,1,5 -> median 3; equal weights -> lower middle
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 3 + ["b"] * 4, "v": [1, 2, 3, 1, 2, 3, 4], "w": [1, 1, 5, 1, 1, 1, 1]})
    )
    out = {r.k: r for r in gb.weighted_median(df, "k", "v", "w").collect()}
    assert out["a"].weighted_median == 3 and out["a"].w_total == 7
    assert out["b"].weighted_median == 2  # cumw*2 >= 4 first reached at v=2


def test_scd_join_picks_version_valid_at_fact_date(spark):
    import datetime as dt

    from riptable_spark.operators import merge as mg

    facts = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "d": [dt.date(1995, 5, 1), dt.date(1999, 5, 1), dt.date(2003, 1, 1)],
        "fid": [10, 11, 12],
    }))
    dim = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1, 2],
        "valid_from": [dt.date(1992, 1, 1), dt.date(1998, 1, 1), dt.date(1992, 1, 1)],
        "valid_to": [dt.date(1998, 1, 1), dt.date(2002, 1, 1), dt.date(2002, 1, 1)],
        "attr": ["v1", "v2", "v3"],
    }))
    out = {r.fid: r.attr for r in mg.scd_join(facts, dim, "k", "d").collect()}
    assert out == {10: "v1", 11: "v2"}  # fid 12 outside every window -> dropped


def test_knn_label_agreement_separable_clusters(spark):
    import numpy as np

    from riptable_spark.operators import similarity as sim

    rows = []
    for i in range(10):
        rows.append((i, 0, [1.0 + 0.01 * i, 0.0]))
        rows.append((100 + i, 1, [0.0, 1.0 + 0.01 * i]))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "label", "embedding"]))
    anchors = df.select("vec_id").where(F.col("vec_id").isin(0, 100))
    out = {r.vec_id: r for r in sim.knn_label_agreement(df, anchors, k=5).collect()}
    assert out[0].agree_frac == 1.0 and out[100].agree_frac == 1.0
    # flip one label -> its neighborhood disagrees completely
    df2 = df.withColumn("label", F.when(F.col("vec_id") == 0, 1).otherwise(F.col("label")))
    out2 = {r.vec_id: r for r in sim.knn_label_agreement(df2, anchors, k=5).collect()}
    assert out2[0].agree_frac == 0.0


def test_quantile_transform_uniform_output(spark):
    from riptable_spark.functions import stats as st

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 5, "x": [50, 10, 30, 20, 40]}))
    out = sorted(r.q for r in st.quantile_transform(df, "k", "x").collect())
    assert out == [0.0, 0.25, 0.5, 0.75, 1.0]


def test_oov_rate_hand_checked(spark):
    from riptable_spark.operators import text as tx

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["known known strange"]}))
    vocab = spark.createDataFrame(pd.DataFrame({"token": ["known"]}))
    r = tx.oov_rate(docs, vocab).first()
    assert r.n_tokens == 3 and r.n_oov == 1 and abs(r.oov_frac - 1 / 3) < 1e-12


def test_negative_sample_deterministic_uniform(spark):
    from riptable_spark.operators import pipeline as pl

    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(50)}))
    a = sorted((r.anchor, r.j, r.negative) for r in pl.negative_sample(df, k=3, seed=1).collect())
    b = sorted((r.anchor, r.j, r.negative) for r in pl.negative_sample(df, k=3, seed=1).collect())
    assert a == b                                  # rerun-stable
    assert all(neg != anc for anc, _, neg in a)    # no self-pairs
    assert len(a) >= 50 * 3 - 10                   # only self-draws removed
    c = sorted((r.anchor, r.j, r.negative) for r in pl.negative_sample(df, k=3, seed=2).collect())
    assert a != c                                  # seed changes the permutation


def test_hll_accuracy_and_merge(spark):
    from riptable_spark.operators import sketch as sk

    df = spark.createDataFrame(pd.DataFrame({"u": [i % 5000 for i in range(20000)]}))
    est = sk.hll_count(df, "u", p=8).first().estimate
    assert abs(est - 5000) / 5000 < 0.15  # ~1.04/sqrt(256) ≈ 6.5% std err
    # merge of two disjoint halves == sketch of the union
    a = sk.hll_registers(df.where(F.col("u") < 2500), "u", p=8)
    b = sk.hll_registers(df.where(F.col("u") >= 2500), "u", p=8)
    merged = sk.hll_estimate(sk.hll_merge(a, b), p=8).first().estimate
    assert merged == est
    # small range -> linear counting is near-exact
    small = spark.createDataFrame(pd.DataFrame({"u": list(range(30))}))
    est_small = sk.hll_count(small, "u", p=8).first().estimate
    assert abs(est_small - 30) < 3


def test_merge_asof_topk_hand_checked(spark):
    from riptable_spark.operators import merge as mg

    trades = spark.createDataFrame(pd.DataFrame({"tid": [1, 2], "k": ["a", "a"], "t": [100.0, 50.0]}))
    quotes = spark.createDataFrame(pd.DataFrame({
        "qid": [10, 11, 12, 13], "k": ["a"] * 4, "t": [40.0, 60.0, 95.0, 120.0]}))
    out = mg.merge_asof_topk(
        trades, quotes, on="t", by=["k"], left_id_col="tid", k=2, tolerance=70.0
    )
    got = {(r.tid, r.asof_rank): r.qid for r in out.collect()}
    assert got[(1, 1)] == 12 and got[(1, 2)] == 11   # at t=100: quotes 95, 60 (40 out of tol)
    assert got[(2, 1)] == 10 and (2, 2) not in got   # at t=50: only quote 40


def test_weighted_quantile_generalizes_median(spark):
    from riptable_spark.operators import groupby as gb

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 10, "v": list(range(1, 11)), "w": [1] * 10})
    )
    p90 = gb.weighted_quantile(df, "k", "v", "w", 9, 10).first().weighted_quantile
    med = gb.weighted_quantile(df, "k", "v", "w", 1, 2).first().weighted_quantile
    med2 = gb.weighted_median(df, "k", "v", "w").first().weighted_median
    assert p90 == 9 and med == med2 == 5


def test_cms_never_undercounts_and_merges(spark):
    from riptable_spark.operators import sketch as sk

    df = spark.createDataFrame(pd.DataFrame({"k": [i % 100 for i in range(5000)]}))
    cms = sk.cms_build(df, "k", d=4, w=64)
    keys = spark.createDataFrame(pd.DataFrame({"k": list(range(100))}))
    est = {r.k: r.est for r in sk.cms_query(cms, keys, "k", d=4, w=64).collect()}
    assert all(est[k] >= 50 for k in range(100))   # exact count per key = 50
    # merge of disjoint halves == sketch of the union
    a = sk.cms_build(df.where(F.col("k") < 50), "k", d=4, w=64)
    b = sk.cms_build(df.where(F.col("k") >= 50), "k", d=4, w=64)
    merged = sk.cms_merge(a, b)
    est2 = {r.k: r.est for r in sk.cms_query(merged, keys, "k", d=4, w=64).collect()}
    assert est2 == est


def test_chi_square_independent_is_zero(spark):
    from riptable_spark.functions import stats as st

    prod = [(a, b) for a in "xy" for b in "uv" for _ in range(5)]
    df = spark.createDataFrame(pd.DataFrame(prod, columns=["a", "b"]))
    r = st.chi_square(df, "a", "b").first()
    assert abs(r.chi2) < 1e-9 and r.dof == 1 and r.n == 20


def test_proportion_ci_brackets_p_hat(spark):
    from riptable_spark.functions import stats as st

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"] * 100, "s": [1] * 30 + [0] * 70}))
    r = st.proportion_ci(df, "k", "s").first()
    assert abs(r.p_hat - 0.3) < 1e-12
    assert r.ci_lo < 0.3 < r.ci_hi
    assert 0.21 < r.ci_lo < 0.24 and 0.39 < r.ci_hi < 0.41  # Wilson 95% for 30/100


def test_hll_trailing_estimate_matches_exact_windows(spark):
    from riptable_spark.operators import sketch as sk

    # 3 days, users overlap across days; trailing-2 merge must count
    # the union of each day pair (small range -> linear counting exact-ish)
    rows = [(0, u) for u in range(20)] + [(1, u) for u in range(10, 30)] + [(2, u) for u in range(25, 40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["day", "u"]))
    regs = sk.hll_registers_by(df, "day", "u", p=8)
    out = {r.day: r.estimate for r in sk.hll_trailing_estimate(regs, "day", trailing=2, p=8).collect()}
    for day, expect in [(0, 20), (1, 30), (2, 30)]:  # unions of trailing pairs
        assert abs(out[day] - expect) / expect < 0.12


def test_hist_quantile_sketch_bounded_error(spark):
    import numpy as np

    from riptable_spark.operators import sketch as sk

    vals = np.linspace(0, 99.9, 2000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    h = sk.hist_sketch(df, "v", bins=100, lo=0.0, hi=100.0)
    out = {(r.q_num, r.q_den): r.quantile_est for r in
           sk.hist_quantile(h, [(1, 2), (9, 10)], bins=100, lo=0.0, hi=100.0).collect()}
    assert abs(out[(1, 2)] - 50.0) <= 1.0    # one bucket width
    assert abs(out[(9, 10)] - 90.0) <= 1.0
    # merge of halves == sketch of union
    a = sk.hist_sketch(df.where(F.col("v") < 50), "v", bins=100, lo=0.0, hi=100.0)
    b = sk.hist_sketch(df.where(F.col("v") >= 50), "v", bins=100, lo=0.0, hi=100.0)
    m = sk.hist_merge(a, b)
    out2 = {(r.q_num, r.q_den): r.quantile_est for r in
            sk.hist_quantile(m, [(1, 2), (9, 10)], bins=100, lo=0.0, hi=100.0).collect()}
    assert out2 == out


def test_kmv_estimate_and_merge(spark):
    from riptable_spark.operators import sketch as sk

    df = spark.createDataFrame(pd.DataFrame({"u": [i % 3000 for i in range(9000)]}))
    est = sk.kmv_estimate(sk.kmv_sketch(df, "u", k=64), k=64).first().estimate
    assert abs(est - 3000) / 3000 < 0.30  # k=64 -> ~12.5% std err
    a = sk.kmv_sketch(df.where(F.col("u") < 1500), "u", k=64)
    b = sk.kmv_sketch(df.where(F.col("u") >= 1500), "u", k=64)
    merged_est = sk.kmv_estimate(sk.kmv_merge(a, b, k=64), k=64).first().estimate
    assert merged_est == est
    # under k distinct -> exact
    small = spark.createDataFrame(pd.DataFrame({"u": list(range(20))}))
    r = sk.kmv_estimate(sk.kmv_sketch(small, "u", k=64), k=64).first()
    assert r.n_in_sketch == 20 and r.estimate == 20.0


def test_auc_exact_matches_sklearn_formula(spark):
    import numpy as np

    from riptable_spark.functions import stats as st

    # hand data with ties: perfect=1.0, random-ish checked vs manual
    y = [1, 1, 0, 0]
    s = [10, 9, 2, 1]
    df = spark.createDataFrame(pd.DataFrame({"y": y, "s": s}))
    assert st.auc_exact(df, "y", "s").first().auc == 1.0
    y2 = [1, 0, 1, 0, 1, 0]
    s2 = [3, 3, 2, 2, 1, 1]   # all tied pairwise -> AUC 0.5
    df2 = spark.createDataFrame(pd.DataFrame({"y": y2, "s": s2}))
    assert st.auc_exact(df2, "y", "s2".replace("2", "")).first().auc == 0.5
    # mixed: pos scores [4, 2], neg [3, 1]: pairs (4>3,4>1,2<3,2>1) -> 3/4
    df3 = spark.createDataFrame(pd.DataFrame({"y": [1, 1, 0, 0], "s": [4, 2, 3, 1]}))
    assert st.auc_exact(df3, "y", "s").first().auc == 0.75


def test_calibration_bins_perfectly_calibrated(spark):
    import numpy as np

    from riptable_spark.functions import stats as st

    rng = np.random.RandomState(3)
    p = np.round(rng.uniform(0, 1, 4000), 3)
    y = (rng.uniform(0, 1, 4000) < p).astype(int)
    df = spark.createDataFrame(pd.DataFrame({"p": p, "y": y}))
    rows = st.calibration_bins(df, "p", "y", bins=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert abs(r.mean_pred - r.frac_pos) < 0.08  # calibrated within noise


def test_leakage_safe_kfold_components_share_folds(spark):
    from riptable_spark.operators import pipeline as pl

    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(20)}))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0, 1, 5], "id_b": [1, 2, 6]}))
    out = {r.doc_id: r.fold for r in pl.leakage_safe_kfold(df, pairs, k=4).collect()}
    assert out[0] == out[1] == out[2]   # chained component
    assert out[5] == out[6]
    base = {r.doc_id: r.fold for r in pl.kfold_split(df, "doc_id", k=4).collect()}
    for i in [3, 4] + list(range(7, 20)):
        assert out[i] == base[i]        # unpaired rows identical to plain kfold


def test_retention_curve_hand_checked(spark):
    from riptable_spark.functions import stats as st

    # users: a active d1-3, b d1-2, c d1, d d3 (d3 = max day -> censored)
    rows = [("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2), ("c", 1), ("d", 3)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["u", "day"]))
    out = {r.day: r for r in st.retention_curve(df, "u", "day").collect()}
    assert out[1].n_at_risk == 4 and out[1].n_churned == 1       # c churns
    assert out[2].n_at_risk == 3 and out[2].n_churned == 1       # b churns
    assert out[3].n_at_risk == 2 and out[3].n_churned == 0       # a, d censored
    assert abs(out[2].survival - (3 / 4) * (2 / 3)) < 1e-9
    assert abs(out[3].survival - 0.5) < 1e-9


def test_gains_table_separates_perfect_model(spark):
    from riptable_spark.functions import stats as st

    # score == label*100 + noise rank: top decile captures all positives
    rows = [(1000 + i, 1) for i in range(10)] + [(i, 0) for i in range(90)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["s", "y"]))
    out = {r.bucket: r for r in st.gains_table(df, "s", "y", n_buckets=10).collect()}
    assert out[0].n_pos == 10 and abs(out[0].cum_capture - 1.0) < 1e-12
    assert abs(out[0].lift - 10.0) < 1e-9       # base rate 0.1 -> lift 10
    assert all(out[b].n_pos == 0 for b in out if b != 0)


def test_permutation_test_detects_real_difference(spark):
    from riptable_spark.functions import stats as st

    rows = [("a", i, 100 + (i % 5)) for i in range(40)] + [("b", 100 + i, 200 + (i % 5)) for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "id", "x"]))
    r = st.permutation_test(df, "g", "x", "a", "b", n_perm=30, id_col="id").first()
    assert abs(r.obs_diff + 100.0) < 1e-9          # mean a - mean b = -100
    assert r.p_value <= 1 / 30 + 1e-12             # far outside permutation noise
    # identical groups -> non-significant
    rows2 = [("a", i, 100 + (i % 7)) for i in range(40)] + [("b", 100 + i, 100 + (i % 7)) for i in range(40)]
    df2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["g", "id", "x"]))
    r2 = st.permutation_test(df2, "g", "x", "a", "b", n_perm=30, id_col="id").first()
    assert r2.p_value > 0.2


def test_key_skew_histogram_and_topk(spark):
    from riptable_spark.operators import profile as pf

    # one hot key with 64 rows, the rest singletons
    rows = [("hot",)] * 64 + [(f"k{i}",) for i in range(32)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k"]))
    hist, topk = pf.key_skew(df, "k", top=3)
    h = {r.log2_bucket: r for r in hist.collect()}
    assert h[0].n_keys == 32 and h[0].n_rows == 32   # singletons in bucket 0
    assert h[6].n_keys == 1 and h[6].n_rows == 64    # 2^6 hot key
    t = topk.collect()
    assert t[0].k == "hot" and t[0].n == 64
