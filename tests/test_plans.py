"""Physical-plan quality gates (SURVEY: 'iterate until it's the plan
you'd want'). These lock in the scale properties: pushdown, broadcast,
shuffle counts, map-side combine."""

from __future__ import annotations

import re

import pytest

from riptable_spark import queries2, queries3, queries4  # noqa: F401
from riptable_spark.plans import inspect as pi
from riptable_spark.queries import QUERIES
from riptable_spark.sources.io import load_table


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)

    return run


def test_q01_pushdown_and_single_shuffle(q):
    df = q("q01_pricing_summary")
    assert any("l_shipdate" in p for p in pi.pushed_filters(df))
    assert pi.count_shuffles(df) == 1  # one exchange between partial+final agg
    assert pi.has_partial_aggregate(df)
    # column pruning: only the 7 needed columns are scanned
    cols = pi.scan_columns(df)
    assert cols and all(set(c) <= {"l_quantity", "l_extendedprice", "l_discount",
                                   "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"}
                        for c in cols)


def test_q09_lookup_broadcasts(q):
    df = q("q09_merge_lookup")
    assert pi.has_broadcast_join(df)


def test_q13_asof_single_shuffle(q):
    """The as-of rewrite must cost ONE shuffle (union + window on by key),
    the distributed equivalent of the reference's two-pointer scan."""
    df = q("q13_asof_backward")
    assert pi.count_shuffles(df) == 1


def test_q22_accum2_single_shuffle(q):
    """Cross-tab with margins = one conditional aggregation."""
    df = q("q22_accum2")
    assert pi.count_shuffles(df) == 1
    assert pi.has_partial_aggregate(df)


def test_q32_corpus_never_shuffles(q):
    """Brute-force ANN: queries broadcast; the only exchange is the final
    per-query top-k window over scored rows."""
    df = q("q32_cosine_topk")
    assert pi.has_broadcast_join(df)
    assert pi.count_shuffles(df) <= 1


def test_q32_norms_fold_below_the_join(q):
    """Norm staging: each vector's norm folds once per row of its own
    side, below the BroadcastNestedLoopJoin; above it each pair folds
    only the dot product (cosine() inline would fold both norms again
    per pair)."""
    nodes = list(pi._walk_plan(q("q32_cosine_topk")._jdf.queryExecution().executedPlan()))
    at = next(i for i, n in enumerate(nodes) if n.nodeName() == "BroadcastNestedLoopJoin")
    assert nodes[at].toString().count("SQRT(aggregate(") == 2  # corpus side, query side
    # the plan above the join is a chain, so the nodes before it in
    # pre-order are exactly its ancestors
    above = [n.expressions().toString() for n in nodes[:at]]
    assert sum(e.count("aggregate(") for e in above) == 1
    assert not any("SQRT(" in e for e in above)


def test_q02_projection_pruned(q):
    df = q("q02_filter_project")
    cols = pi.scan_columns(df)
    assert cols and all(len(c) <= 5 for c in cols)


def test_q20_dedup_is_hash_agg_not_window(q):
    """drop_duplicates keep=first must run as a hash aggregation with
    map-side combine — no per-partition sort, no Window."""
    df = q("q20_drop_duplicates")
    plan = pi.simple_plan(df)
    assert "Window" not in plan
    assert pi.has_partial_aggregate(df)


def test_q35_ema_stays_jvm_side(q):
    """The auto-dispatched EMA must compile to window exprs (closed form),
    not a Python worker stage, when the span guard allows."""
    df = q("q35_ema_decay")
    plan = pi.simple_plan(df)
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" in plan


def test_q76_rankdata_broadcasts_rank_map(q):
    df = q("q76_rankdata")
    assert pi.has_broadcast_join(df)


def test_q22_accum2_single_shuffle(q):
    df = q("q22_accum2")
    assert pi.count_shuffles(df) == 1
    assert pi.has_partial_aggregate(df)


def test_q114_lsh_dedup_is_equi_join(q):
    """The production embedding-dedup path must candidate-generate via an
    EQUI-join on (table, bucket) — the all-pairs cartesian (q108) is only
    the oracle baseline. A BroadcastNestedLoopJoin/CartesianProduct here
    would be the 100 TB scale-killer VERDICT r1 flagged."""
    from riptable_spark import queries5  # noqa: F401

    df = q("q114_lsh_dedup")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_q114_bucket_exchange_carries_no_vectors(q, spark):
    """VERDICT r2 #1: the (table, bucket) candidate-generation exchange
    must carry only scalars — shipping the dim-wide vector through it is
    n_tables × corpus × dim × 8 bytes on the wire at 100 TB. Vectors may
    only travel through the id-keyed verify joins. Broadcast is disabled
    here so the small-SF plan exposes the same exchanges a cluster-scale
    run would."""
    from riptable_spark import queries5  # noqa: F401

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q("q114_lsh_dedup")
        bucket_exchanges = [
            (part, types) for part, types in pi.exchanges(df) if "__bkt__" in part or "__tbl__" in part
        ]
        assert bucket_exchanges, "expected a (table, bucket)-keyed candidate exchange"
        for part, types in bucket_exchanges:
            assert not any("array" in t for t in types), (part, types)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q121_searchsorted_big_side_never_shuffles(q):
    """searchsorted_against: the only join is a BroadcastNestedLoopJoin
    against a ONE-ROW aggregate (the collapsed sorted bounds array — the
    scalar-subquery pattern, appending one array to every partition).
    The customer side must not shuffle at all."""
    from riptable_spark import queries5  # noqa: F401

    df = q("q121_searchsorted_array")
    assert pi.count_shuffles(df) == 0
    plan = pi.plan_string(df)
    # the nested-loop join must be fed by a broadcast of a global agg
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastExchange" in plan


def test_q123_gbrows_zero_shuffle(q):
    """Row-wise groupby is a pure projection — no exchange anywhere."""
    from riptable_spark import queries5  # noqa: F401

    df = q("q123_gbrows")
    assert pi.count_shuffles(df) == 0


def test_q126_accumtable_single_body_shuffle(q):
    """AccumTable.gen: all inner tables' cells+margins in ONE hash
    aggregation (single shuffle); footers from a shuffle-free global
    agg."""
    from riptable_spark import queries5  # noqa: F401

    df = q("q126_accumtable_gen")
    assert pi.count_shuffles(df) == 1
    assert pi.has_partial_aggregate(df)


def test_q131_decontaminate_broadcasts_benchmark(q):
    """Decontamination: the benchmark shingle set must be the BROADCAST
    side — the corpus text never shuffles; only matched (doc_id, 1)
    pairs reach the count aggregation."""
    from riptable_spark import queries6  # noqa: F401

    df = q("q131_decontaminate")
    assert pi.has_broadcast_join(df)
    assert pi.has_partial_aggregate(df)


def test_q132_hash_split_zero_shuffle_before_count(q):
    """hash_split is a pure projection; the only exchange in q132 is the
    validating groupBy('split') count."""
    from riptable_spark import queries6  # noqa: F401

    df = q("q132_hash_split")
    assert pi.count_shuffles(df) == 1


def test_q133_repetition_zero_shuffle(q):
    """Repetition metrics are horizontal array algebra — no exchange."""
    from riptable_spark import queries6  # noqa: F401

    df = q("q133_repetition_stats")
    assert pi.count_shuffles(df) == 0


def test_q135_stratified_sample_filter_is_shuffle_free(q):
    """Stratified sampling is a filter projection; only the validating
    count shuffles, and the scan prunes to the referenced columns."""
    from riptable_spark import queries6  # noqa: F401

    df = q("q135_stratified_sample")
    assert pi.count_shuffles(df) == 1


def test_q138_ivf_topk_prunes_to_probed_lists(q):
    """IVF search: the probe relation must be BROADCAST and the
    corpus–probe match an equi-join on centroid_id (the partition-prune
    surrogate); the only cross join allowed is against the tiny
    broadcast centroid set during assignment."""
    from riptable_spark import queries6  # noqa: F401

    df = q("q138_ivf_topk")
    plan = pi.plan_string(df)
    assert "BroadcastExchange" in plan
    # the corpus-to-probe join is keyed, not nested-loop over corpus×queries
    assert "centroid_id" in plan


def test_q145_calendar_zero_shuffle(q):
    """Calendar business-day helpers are literal-array codegen — the
    whole query is a projection over the orders scan, no exchange."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q145_calendar_busdays")
    assert pi.count_shuffles(df) == 0


def test_q146_gopher_single_agg_shuffle(q):
    """Quality-rule filtering is a scan + one global aggregation: no
    keyed shuffle at all — the only exchange is the SinglePartition
    merge of map-side partial aggregates, so a 100 TB filter pass moves
    7 longs per partition."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q146_gopher_quality")
    assert pi.count_shuffles(df) == 0  # no hash/range exchange
    assert "Exchange SinglePartition" in pi.simple_plan(df)
    assert pi.has_partial_aggregate(df)


def test_q141_image_decode_no_shuffle(q):
    """Synthesize → decode are chained mapInPandas stages — Arrow batch
    flows, zero exchanges."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q141_image_header_decode")
    assert pi.count_shuffles(df) == 0


def test_kmeans_iteration_shape(spark, sf_dir):
    """One Lloyd round = broadcast-assign (corpus never shuffles) + ONE
    map-side-combined hash shuffle of per-dimension sums."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_init(e, k=4)
    cdf = spark.createDataFrame(
        [(i, r.centroid_vec) for i, r in enumerate(cents.collect())],
        "centroid_id int, centroid_vec array<double>",
    )
    assigned = sim.ivf_assign(e, cdf)
    dim = 8
    sums = assigned.groupBy("centroid_id").agg(
        *[F.sum(F.element_at(F.col("embedding"), i + 1)).alias(f"s{i}") for i in range(dim)]
    )
    assert pi.has_broadcast_join(sums)
    # the ivf_assign argmin window partitions by vec_id (pre-partitioned
    # by nothing → one exchange) plus the agg exchange; what must NOT
    # appear is a cartesian or a sort-merge join of the corpus
    plan = pi.plan_string(sums)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert pi.has_partial_aggregate(sums)


def test_q148_pii_scrub_zero_shuffle(q):
    """PII scrubbing is a regexp projection — a 100 TB scrub pass is a
    scan, no exchange anywhere."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q148_pii_scrub")
    assert pi.count_shuffles(df) == 0


def test_q158_grouped_topk_uses_window_group_limit(q):
    """The rank filter must compile to WindowGroupLimit (per-partition
    streaming top-k before the exchange) — without it, the full table
    shuffles into the window sort."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q158_grouped_topk")
    assert "WindowGroupLimit" in pi.simple_plan(df)


def test_q159_pq_encode_zero_shuffle_search_broadcasts(q, spark, sf_dir):
    """PQ contract: encode is a pure projection (corpus never moves —
    zero exchanges), and ADC search broadcasts the query side while the
    codes relation stays put (only the per-query top-k window's scored
    pairs shuffle)."""
    from pyspark.sql import functions as F

    from riptable_spark import queries8 as q8
    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    codes = sim.pq_encode(emb, q8._PQ_BOOKS)
    assert pi.count_shuffles(codes) == 0
    df = q("q159_pq_adc")
    assert pi.has_broadcast_join(df)


def test_q160_chunking_zero_shuffle(q):
    """Chunking is sequence→posexplode→substring — a per-partition
    projection; no document ever leaves its partition."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q160_chunk_documents")
    assert pi.count_shuffles(df) == 0


def test_q161_mixture_sample_filter_is_shuffle_free(q):
    """The mixture filter itself is a zero-shuffle projection; the only
    exchange in the query is the validation count's groupBy."""
    from riptable_spark import queries8  # noqa: F401

    df = q("q161_mixture_sample")
    assert pi.count_shuffles(df) <= 1


def test_q183_columnar_pq_codes_are_bytes_zero_shuffle(q, spark, sf_dir):
    """Columnar PQ contract: encode emits one TINYINT (ByteType) column
    per subspace with ZERO exchanges, and the columnar search matches the
    array-layout search row-for-row (the −128 offset round-trips)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from riptable_spark import queries8 as q8
    from riptable_spark import queries9  # noqa: F401
    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    codes = sim.pq_encode_columnar(emb, q8._PQ_BOOKS)
    assert pi.count_shuffles(codes) == 0
    for j in range(q8._PQ_M):
        assert isinstance(codes.schema[f"c{j}"].dataType, T.ByteType)
    # offset round-trip vs the array layout
    arr = sim.pq_encode(emb, q8._PQ_BOOKS)
    joined = codes.join(arr, "vec_id").select(
        *[
            (F.col(f"c{j}").cast("int") + 128 == F.element_at("codes", j + 1)).alias(f"ok{j}")
            for j in range(q8._PQ_M)
        ]
    )
    agg = joined.agg(*[F.min(f"ok{j}").alias(f"ok{j}") for j in range(q8._PQ_M)]).first()
    assert all(agg[f"ok{j}"] for j in range(q8._PQ_M))
    df = q("q183_pq_columnar")
    assert pi.has_broadcast_join(df)


def test_q205_mutual_info_fact_shuffles_once(q):
    """MI: the fact table shuffles ONCE into the contingency counts;
    marginals reduce from the (tiny) pair relation and broadcast back —
    no second pass over the events table."""
    from riptable_spark import queries10  # noqa: F401 — registers batch 10

    df = q("q205_mutual_info")
    assert pi.has_broadcast_join(df)
    plan = pi.simple_plan(df)
    assert plan.count("Scan parquet") <= 1 or pi.has_broadcast_join(df)


def test_q202_target_encode_broadcasts_stats(q):
    """Target encoding: per-key and global stats broadcast back; the
    fact table itself never hash-exchanges."""
    from riptable_spark import queries10  # noqa: F401

    df = q("q202_target_encode")
    assert pi.has_broadcast_join(df)
    # every hash exchange is the per-key stats aggregation (keyed on k)
    # or a 1-row global aggregate (SinglePartition) — the orders fact
    # relation itself never hash-exchanges.  The BroadcastNestedLoopJoin
    # lint hits here are exactly the scalar-side cross joins the lint
    # message itself exempts.
    for kind, _cols in pi.exchanges(df):
        assert "SinglePartition" in kind or "k#" in kind, kind


def test_q197_decontaminate_fuzzy_no_cartesian(q):
    """Fuzzy decontamination: candidate generation is an equi-join on
    (band, hash); the final removal is a broadcastable anti-join —
    nothing in the plan is a nested-loop cartesian."""
    from riptable_spark import queries10  # noqa: F401

    df = q("q197_decontaminate_fuzzy")
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower()], lint


def test_q207_corpus_overlap_exchanges_carry_hashes_not_text(q):
    """Corpus overlap: the gram self-join exchanges 8-byte hashes +
    group keys — no raw gram strings cross the wire after the distinct."""
    from riptable_spark import queries10  # noqa: F401

    df = q("q207_corpus_overlap")
    for kind, cols in pi.exchanges(df):
        assert not any("__s__" in c for c in cols), (kind, cols)


def test_q214_gram_matrix_partial_aggregate(q):
    """Gramian: the (i, j) aggregation must map-side combine — the
    exchange carries per-partition partial sums, not raw products."""
    from riptable_spark import queries10  # noqa: F401

    df = q("q214_gram_matrix")
    assert pi.has_partial_aggregate(df)


def test_q250_vwap_single_shuffle_partial_agg(q):
    """VWAP bars: ONE exchange (between partial and final agg) and
    map-side combine — the integer Σ(p·v) accumulator makes partials
    associative; the scan reads only the 4 needed columns."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q250_vwap")
    assert pi.count_shuffles(df) == 1
    assert pi.has_partial_aggregate(df)
    cols = pi.scan_columns(df)
    assert cols and all(
        set(c) <= {"l_suppkey", "l_shipdate", "l_extendedprice", "l_quantity"} for c in cols
    )


def test_q257_corr_matrix_one_pass(q):
    """Correlation matrix: all pairwise power sums in ONE aggregate —
    a single exchange regardless of how many column pairs."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q257_corr_matrix")
    # ≤1: at tiny SF the single-partition input needs no exchange at all
    assert pi.count_shuffles(df) <= 1
    assert pi.has_partial_aggregate(df)


def test_q258_basket_pairs_no_cartesian(q):
    """Pair mining must stay an equi-join on the basket key."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q258_basket_pairs")
    lint = [m for m in pi.lint(df) if "cartesian" in m.lower()]
    # the only tolerated hit is the 1-row n_baskets scalar broadcast
    # (BroadcastNestedLoopJoin against a single aggregate row); a true
    # CartesianProduct over the pair relation must never appear
    assert all("BroadcastNestedLoopJoin" in m for m in lint), lint


def test_q259_constraints_fk_broadcasts(q):
    """The FK anti-join against the customer dimension broadcasts."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q259_constraints")
    assert pi.has_broadcast_join(df)


def test_q261_trade_flow_lint_clean(q):
    """Lee-Ready + microstructure rollup: no cartesian, no Python UDF,
    no single-partition exchange in the executed plan."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q261_trade_flow")
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower() or "python" in m.lower()], lint


def test_q263_triangles_no_cartesian(q):
    """Triangle closure is two equi-joins, never a nested loop."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q263_triangles")
    lint = [m for m in pi.lint(df) if "cartesian" in m.lower()]
    # scalar n_edges/n_triangles 1-row joins are BroadcastNestedLoop by
    # construction; the wedge-closure joins must stay equi-joins
    assert all("BroadcastNestedLoopJoin" in m for m in lint), lint


def test_q263_fanned_out_edges_run_once(spark, sf_dir, q):
    """triangle_count materializes nothing: its four consumers of the
    canonical edge relation share one exchange, so executing q263 scans
    lineitem no more often than its basket_pairs input alone."""
    from riptable_spark import queries11  # noqa: F401
    from riptable_spark.operators.mining import basket_pairs

    def lineitem_scans(df):
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        return len(re.findall(r"FileScan parquet[^\n]*lineitem", final))

    li = load_table(spark, sf_dir, "lineitem")
    pairs = basket_pairs(li, "l_orderkey", "l_partkey", min_count=2, max_basket=10)
    assert lineitem_scans(q("q263_triangles")) <= lineitem_scans(pairs)


def test_q264_pnl_single_keyed_window(q):
    """P&L curve: one (user) exchange feeds both running sums; no
    single-partition window, no cartesian."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q264_pnl_curve")
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower() or "single-partition" in m.lower()], lint
    assert pi.count_shuffles(df) == 1


def test_q268_stream_vwap_partial_agg(q):
    """Streaming VWAP on a batch frame: map-side combine, one exchange."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q268_stream_vwap")
    assert pi.has_partial_aggregate(df)
    assert pi.count_shuffles(df) == 1


def test_q271_xcorr_single_sort_shuffle(q):
    """xcorr: every lead column from ONE sort window; the stacked
    per-lag aggregation reuses the day-hash exchange family."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q271_xcorr")
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower() or "python" in m.lower()], lint


def test_q273_attribution_lint_clean(q):
    """U-shaped attribution must stay linear: no conversions×touches
    cartesian, no Python UDF, all windows keyed."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q273_u_shaped_attribution")
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower() or "python" in m.lower()
                or "single-partition" in m.lower()], lint


def test_q275_novelty_exchanges_carry_hashes_not_text(q):
    """Doc novelty: after the (doc, hash) reduce, no raw shingle string
    crosses an exchange."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q275_doc_novelty")
    for kind, cols in pi.exchanges(df):
        assert not any("__s__" in c for c in cols), (kind, cols)


def test_q294_tpch_q5_broadcasts_dims(q):
    """The Q5 six-way join: dimension chain broadcasts; no cartesian."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q294_tpch_q5")
    assert pi.has_broadcast_join(df)
    lint = pi.lint(df)
    assert not [m for m in lint if "cartesian" in m.lower()], lint


def test_q293_tpch_q3_pushes_filters(q):
    """Q3: segment/date predicates reach the scans."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q293_tpch_q3")
    pushed = " ".join(p for p in pi.pushed_filters(df))
    assert "c_mktsegment" in pushed and "l_shipdate" in pushed


def test_q296_q4_uses_semi_join(q):
    """EXISTS must compile to a semi join, never a full join + distinct."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q296_tpch_q4")
    plan = pi.simple_plan(df)
    assert "LeftSemi" in plan or "left_semi" in plan.lower()


def test_q298_q22_anti_join_and_broadcast_threshold(q):
    """NOT EXISTS → anti join; the scalar threshold broadcasts."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q298_tpch_q22")
    plan = pi.simple_plan(df)
    assert "LeftAnti" in plan or "left_anti" in plan.lower()


def test_q321_q6_no_join_full_pushdown(q):
    """Q6 is a single scan: no join node, date filter pushed."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q321_tpch_q6")
    plan = pi.simple_plan(df)
    assert "Join" not in plan
    # the discount-band round() wrapper keeps this filter post-scan, so
    # assert the single-agg shape instead of parquet pushdown
    assert pi.has_partial_aggregate(df)
    assert pi.count_shuffles(df) <= 1


def test_q301_time_bars_partial_agg_single_shuffle(q):
    """The bar builder must be one two-stage agg — no window, no sort
    before the exchange."""
    from riptable_spark import queries11  # noqa: F401

    df = q("q301_time_bars")
    assert pi.has_partial_aggregate(df)
    assert pi.count_shuffles(df) == 1


def test_q347_grid_join_is_cell_equijoin(q):
    """The spatial self-join must be an equi-join keyed on the grid
    cell — no CartesianProduct, no non-equi BroadcastNestedLoop over
    the point relation."""
    from riptable_spark import queries12  # noqa: F401

    df = q("q347_grid_neighbor_join")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lint = pi.lint(df)
    assert lint == [], lint


def test_q346_topk_frequent_window_group_limit(q):
    """The sharded shortlist must compile to WindowGroupLimit (per-map
    streaming top-k heaps) so the exchange carries ≤k rows per shard
    per map task, and the count agg must combine map-side."""
    from riptable_spark import queries12  # noqa: F401

    df = q("q346_topk_frequent")
    plan = pi.plan_string(df)
    assert "WindowGroupLimit" in plan
    assert pi.has_partial_aggregate(df)


def test_q344_link_predict_no_cartesian(q):
    """Wedge generation must stay an equi-join on the shared
    neighbor."""
    from riptable_spark import queries12  # noqa: F401

    df = q("q344_link_predict")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q441_partitioned_read_prunes(q):
    """The returnflag-partitioned re-read must prune to the 'R'
    directory: PartitionFilters carries the predicate and the scan does
    NOT read l_returnflag as data (it is a partition column)."""
    from riptable_spark import queries13  # noqa: F401

    df = q("q441_partitioned_write_prune")
    plan = pi.plan_string(df)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_q438_bloom_prunes_before_semi_join(q):
    """The Bloom pre-filter must sit on the fact side BELOW the exact
    semi-join: the plan carries the bit-probe expressions (shiftright/
    bitwise AND on the filter words) in a Filter above the lineitem
    scan, and the final join is a LeftSemi, never a cartesian."""
    from riptable_spark import queries13  # noqa: F401

    df = q("q438_bloom_semi_join")
    plan = pi.plan_string(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q571_tpch_q2_pushdown_and_broadcast(q):
    """The Q2 shape must push the p_size filter to the part scan and
    broadcast the European supplier dim; the min-cost join stays an
    equi-join (no cartesian)."""
    from riptable_spark import queries14, queries15, queries16  # noqa: F401

    df = q("q571_tpch_q2")
    plan = pi.plan_string(df)
    assert "PushedFilters" in plan and "p_size" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q575_window_funnel_equi_joins_only(q):
    """Every funnel level must join on the key alone — no range/
    cartesian join; the time window lives in the conditional min."""
    from riptable_spark import queries14, queries15, queries16  # noqa: F401

    df = q("q575_window_funnel")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q577_sparse_cosine_inverted_index_shape(q):
    """The sparse-cosine dot product must be an equi-join on the token
    (inverted index), never a cartesian; partial aggregation reduces
    map-side."""
    from riptable_spark import queries14, queries15, queries16  # noqa: F401

    df = q("q577_sparse_cosine")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert pi.has_partial_aggregate(df)


def test_q631_winnow_exchange_carries_no_token_arrays(q, spark):
    """The winnowing sketch's only shuffles are the fp-keyed count and
    match joins — the staged token/hash ARRAYS must stay inside the
    document's partition (shipping them is corpus-bytes on the wire at
    100 TB; the whole point of the sketch is that only (id, pos, fp)
    longs leave). Broadcast disabled so the small-SF plan shows the
    cluster-shape exchanges."""
    from riptable_spark import queries17  # noqa: F401

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q("q631_winnow_matches")
        exs = pi.exchanges(df)
        assert exs, "expected fp-keyed exchanges"
        for part, types in exs:
            assert not any("array" in t.lower() for t in types), (part, types)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q635_shared_runs_single_agg_over_pairs(q):
    """Diagonal chaining must be ONE hash aggregation over the fp-joined
    pairs — no window over raw positions, no cartesian."""
    from riptable_spark import queries17  # noqa: F401

    df = q("q635_winnow_shared_runs")
    plan = pi.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
