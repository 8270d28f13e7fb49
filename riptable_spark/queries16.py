"""Driver-contract query registry, batch 16 (mechanical split of the
round-3 batch-14 file, q588-q630): graph/recursive-CTE composites
(q601 edge family), sketch scorecards, approximation audit boards.  Registers
into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# batches whose registered queries and oracles the composites below
# build on (q218/q233/q241, q273, q549/q564/q570/q583)
from . import queries10, queries11, queries15  # noqa: F401
from .queries import query
from .operators.rounds import checkpoint
from .queries15 import _band_agreement_sql, _q570_signed_pairs, _q577_capped_tf, _sparse_dots
from .sources.io import load_table


def _doubling_closure(wd: DataFrame, kind: str, rounds: int = 5) -> DataFrame:
    """The (min|max)-plus doubling fixed point of the q601/q611 family
    in ONE grouped Arrow task (r7; the connected-components small-path
    discipline).

    Input: an (u, v, w) edge relation that is BOUNDED BY CONSTRUCTION —
    every consumer builds it as a distinct() over doc_id % {25,30}, so
    it is ≤ nodes² rows at ANY scale factor (the corpus-sized scan and
    the distinct aggregation stay in Spark; only the tiny aggregated
    graph crosses into Python).  The loop this replaces ran `rounds`
    eager localCheckpoint jobs of cur := merge(cur ∪ cur∘cur); the
    Python fixed point executes the SAME bounded recurrence over exact
    integers — identical arithmetic, identical merge, identical round
    count, so the result relation is equal row-for-row.

    kind='min' replays q601's min-plus (shortest path; compositions
    with u == w are skipped, as the loop's filter did); kind='max'
    replays q611/q612's max-plus (longest path on a DAG; no filter,
    exactly as the loop).  Returns the closure (u, v, len) eagerly
    localCheckpointed (every consumer reads it ≥ once; one job replaces
    `rounds`)."""
    import pandas as pd

    from .operators.apply import grouped_apply

    u_t = wd.schema["u"].dataType
    v_t = wd.schema["v"].dataType
    w_t = wd.schema["w"].dataType
    out_schema = T.StructType(
        [
            T.StructField("u", u_t),
            T.StructField("v", v_t),
            T.StructField("len", w_t),
        ]
    )
    better = min if kind == "min" else max
    skip_self = kind == "min"

    def closure(pdf: pd.DataFrame) -> pd.DataFrame:
        cur: dict = {}
        for u, v, w in zip(pdf["u"], pdf["v"], pdf["w"]):
            key = (int(u), int(v))
            cur[key] = better(cur[key], int(w)) if key in cur else int(w)
        for _ in range(rounds):
            by_src: dict = {}
            for (a, b), l in cur.items():
                by_src.setdefault(a, []).append((b, l))
            nxt = dict(cur)
            for (a, b), l in cur.items():
                for c, l2 in by_src.get(b, ()):
                    if skip_self and a == c:
                        continue
                    key = (a, c)
                    cand = l + l2
                    nxt[key] = better(nxt[key], cand) if key in nxt else cand
            cur = nxt
        items = list(cur.items())
        return pd.DataFrame(
            {
                "u": [k[0] for k, _ in items],
                "v": [k[1] for k, _ in items],
                "len": [l for _, l in items],
            }
        )

    src = wd.select(F.lit(0).alias("__g__"), "u", "v", "w")
    out = grouped_apply(src, ["__g__"], closure, out_schema)
    return out.localCheckpoint(eager=True)


def _gale_shapley_rounds(rk: DataFrame, rounds: int = 3) -> DataFrame:
    """q615's unrolled deferred-acceptance rounds in ONE grouped Arrow
    task (r7; the _doubling_closure discipline — the market is bounded
    by construction: agents = doc_id % 20 distinct, so ``rk`` is ≤ 400
    rows at any SF, aggregated in Spark before it crosses to Python).

    Replays the Spark loop EXACTLY, round for round: an unmatched
    worker proposes to its (n_prop+1)-ranked firm if one exists; each
    firm keeps the best of incumbents + proposals by (t_score DESC,
    w ASC) — all exact integer comparisons; displaced workers rejoin
    with f = NULL; n_prop increments only on an actual proposal.
    Returns the (w, f, n_prop) state relation after ``rounds``.

    The worker set is the ``w`` values of ``rk``, not an agents
    relation: a worker with no preference row is absent from the
    output (the loop kept it with f NULL). Callers must pass the full
    worker × firm preference cross join, as q615 does."""
    import pandas as pd

    from .operators.apply import grouped_apply
    from .operators.mining import _gale_shapley_round

    w_t = rk.schema["w"].dataType
    f_t = rk.schema["f"].dataType
    out_schema = T.StructType(
        [
            T.StructField("w", w_t),
            T.StructField("f", f_t),
            T.StructField("n_prop", T.IntegerType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rank_map: dict = {}
        t_map: dict = {}
        for w, f, t, r in zip(pdf["w"], pdf["f"], pdf["t_score"], pdf["wrank"]):
            w, f, t, r = int(w), int(f), int(t), int(r)
            rank_map[(w, r)] = (f, t)
            t_map[(w, f)] = t
        state = {w: (None, 0) for w, _ in rank_map}
        for _ in range(rounds):
            state = _gale_shapley_round(state, rank_map, t_map)
        ws = sorted(state)
        return pd.DataFrame(
            {
                "w": pd.array(ws, dtype="Int64"),
                "f": pd.array([state[w][0] for w in ws], dtype="Int64"),
                "n_prop": pd.array([state[w][1] for w in ws], dtype="Int32"),
            }
        )

    src = rk.select(F.lit(0).alias("__g__"), "w", "f", "t_score", "wrank")
    return grouped_apply(src, ["__g__"], run, out_schema)

# ------------------------------------------------------------------ q588
@query(
    "q588_kmeans1d_exact",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value) AS BIGINT) AS x, event_id
        FROM events WHERE event_id % 5 = 0
    ),
    ordered AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) AS k,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(x) OVER (PARTITION BY event_type
                                 ORDER BY x, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl,
               CAST(sum(x * x) OVER (PARTITION BY event_type
                                     ORDER BY x, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ql,
               CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS st,
               CAST(sum(x * x) OVER (PARTITION BY event_type) AS BIGINT) AS qt
        FROM f
    ),
    costs AS (
        SELECT event_type, x AS split_at, k, n,
               (ql - CAST(sl * sl AS DOUBLE) / k)
             + ((qt - ql) - CAST((st - sl) * (st - sl) AS DOUBLE) / (n - k)) AS cost
        FROM ordered WHERE k < n
    ),
    best AS (
        SELECT event_type, min(cost) AS mc FROM costs GROUP BY 1
    )
    SELECT c.event_type,
           CAST(min(c.split_at) AS BIGINT) AS split_at,
           CAST(min(c.k) AS BIGINT) AS n_left,
           CAST(max(c.n) AS BIGINT) AS n,
           min(c.cost) AS sse
    FROM costs c JOIN best b ON c.event_type = b.event_type AND c.cost = b.mc
    GROUP BY 1
    """,
)
def q588(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT 1-D 2-means per event type (the optimal split minimizing
    within-cluster SSE — k-means' verifiable baseline): one ordered
    prefix-sum window gives every candidate split's cost from exact
    integer power sums via the bracket identity Q−S²/n (the only float
    ops are two identically-formed divides), argmin tie-broken on the
    smallest split value.  O(n log n) per key, no iteration, no seed."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") % 5 == 0)
    f = ev.select(
        "event_type", F.round(F.col("value")).cast("long").alias("x"), "event_id"
    )
    wo = Window.partitionBy("event_type").orderBy("x", "event_id")
    wa = Window.partitionBy("event_type")
    run = wo.rowsBetween(Window.unboundedPreceding, 0)
    ordered = f.select(
        "event_type", "x",
        F.row_number().over(wo).alias("k"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.sum("x").over(run).cast("long").alias("sl"),
        F.sum(F.col("x") * F.col("x")).over(run).cast("long").alias("ql"),
        F.sum("x").over(wa).cast("long").alias("st"),
        F.sum(F.col("x") * F.col("x")).over(wa).cast("long").alias("qt"),
    )
    cost = (
        F.col("ql") - (F.col("sl") * F.col("sl")).cast("double") / F.col("k")
    ) + (
        (F.col("qt") - F.col("ql"))
        - ((F.col("st") - F.col("sl")) * (F.col("st") - F.col("sl"))).cast("double")
        / (F.col("n") - F.col("k"))
    )
    costs = ordered.where(F.col("k") < F.col("n")).select(
        "event_type", F.col("x").alias("split_at"), "k", "n", cost.alias("cost")
    )
    best = costs.groupBy("event_type").agg(F.min("cost").alias("mc"))
    return (
        costs.join(best, "event_type")
        .where(F.col("cost") == F.col("mc"))
        .groupBy("event_type")
        .agg(
            F.min("split_at").cast("long").alias("split_at"),
            F.min("k").cast("long").alias("n_left"),
            F.max("n").cast("long").alias("n"),
            F.min("cost").alias("sse"),
        )
    )


# ------------------------------------------------------------------ q589
def _q589_oracle() -> str:
    from .operators.text import _LANG_MARKERS
    from .queries import ORACLES

    nb = ORACLES["q549_naive_bayes_lang"]
    score_cols = []
    for lang, markers in _LANG_MARKERS.items():
        s = " + ".join(
            f"contains(' ' || lower(text) || ' ', '{m}')::INT" for m in markers
        )
        score_cols.append(f"{s} AS s_{lang}")
    scores = ",\n               ".join(score_cols)
    langs = list(_LANG_MARKERS.keys())
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pick = f"CASE WHEN {g} = 0 THEN 'und' "
    for l in langs[:-1]:
        pick += f"WHEN s_{l} = {g} THEN '{l}' "
    pick += f"ELSE '{langs[-1]}' END"
    return f"""
    WITH nb AS ({nb}),
    li AS (
        SELECT doc_id, {pick} AS pred FROM (
            SELECT doc_id, {scores}
            FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
        )
    ),
    lptrain AS (
        SELECT n_chars // 100 AS bucket, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL GROUP BY 1, 2
    ),
    lpmap AS (
        SELECT bucket, lang AS pred FROM (
            SELECT bucket, lang,
                   row_number() OVER (PARTITION BY bucket ORDER BY n DESC, lang) AS rk
            FROM lptrain
        ) WHERE rk = 1
    ),
    gmode AS (
        SELECT lang AS m FROM (
            SELECT lang, CAST(sum(n) AS BIGINT) AS tn FROM lptrain GROUP BY 1
            ORDER BY tn DESC, lang LIMIT 1
        )
    ),
    te AS (
        SELECT doc_id, n_chars // 100 AS bucket
        FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
    ),
    v AS (
        SELECT nb.doc_id, nb.true_lang, nb.pred_lang AS p_nb, li.pred AS p_li,
               coalesce(lpmap.pred, gmode.m) AS p_lp
        FROM nb JOIN li ON nb.doc_id = li.doc_id
        JOIN te ON te.doc_id = nb.doc_id
        LEFT JOIN lpmap ON lpmap.bucket = te.bucket
        CROSS JOIN gmode
    ),
    scored AS (
        SELECT *, CASE WHEN p_li = p_lp THEN p_li ELSE p_nb END AS p_ens FROM v
    )
    SELECT 'naive_bayes' AS method, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p_nb = true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           (CAST(sum(CASE WHEN p_nb = true_lang THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*) AS accuracy_ppm
    FROM scored
    UNION ALL
    SELECT 'lang_id', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p_li = true_lang THEN 1 ELSE 0 END) AS BIGINT),
           (CAST(sum(CASE WHEN p_li = true_lang THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*)
    FROM scored
    UNION ALL
    SELECT 'length_prior', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p_lp = true_lang THEN 1 ELSE 0 END) AS BIGINT),
           (CAST(sum(CASE WHEN p_lp = true_lang THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*)
    FROM scored
    UNION ALL
    SELECT 'ensemble', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p_ens = true_lang THEN 1 ELSE 0 END) AS BIGINT),
           (CAST(sum(CASE WHEN p_ens = true_lang THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*)
    FROM scored
    """


@query("q589_classifier_ensemble", _q589_oracle())
def q589(spark: SparkSession, sf: str) -> DataFrame:
    """Three-classifier ensemble with majority vote: Naive Bayes
    (q549's trained model), the marker-based lang_id heuristic, and a
    length-bucket prior (argmax train language per n_chars DIV 100) —
    vote = the pair that agrees, else NB.  The relation reports each
    method's accuracy in exact integer ppm side by side; the oracle
    reuses q549's registered SQL verbatim and replays the other two."""
    from .operators.text import lang_id, naive_bayes_classify

    d = load_table(spark, sf, "documents")
    train = d.where((F.col("doc_id") % 2 == 0) & F.col("text").isNotNull())
    test = d.where((F.col("doc_id") % 2 == 1) & F.col("text").isNotNull())
    nb = naive_bayes_classify(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1),
        "doc_id", "lang", "text", k_tokens=12,
    ).select("doc_id", F.col("pred_lang").alias("p_nb"))
    li = test.select("doc_id", lang_id(F.col("text")).alias("p_li"))
    lptrain = train.groupBy(
        F.expr("n_chars DIV 100").alias("bucket"), "lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wb = Window.partitionBy("bucket").orderBy(F.desc("n"), "lang")
    lpmap = (
        lptrain.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select("bucket", F.col("lang").alias("p_bucket"))
    )
    gmode = (
        lptrain.groupBy("lang")
        .agg(F.sum("n").cast("long").alias("tn"))
        .orderBy(F.desc("tn"), "lang")
        .limit(1)
        .select(F.col("lang").alias("m"))
    )
    te = test.select("doc_id", F.expr("n_chars DIV 100").alias("bucket"),
                     F.col("lang").alias("true_lang"))
    v = (
        te.join(nb, "doc_id")
        .join(li, "doc_id")
        .join(F.broadcast(lpmap), "bucket", "left")
        .crossJoin(F.broadcast(gmode))
        .select(
            "doc_id", "true_lang", "p_nb", "p_li",
            F.coalesce(F.col("p_bucket"), F.col("m")).alias("p_lp"),
        )
    )
    scored = v.withColumn(
        "p_ens",
        F.when(F.col("p_li") == F.col("p_lp"), F.col("p_li")).otherwise(F.col("p_nb")),
    )
    outs = []
    for name, col in [("naive_bayes", "p_nb"), ("lang_id", "p_li"),
                      ("length_prior", "p_lp"), ("ensemble", "p_ens")]:
        hit = F.when(F.col(col) == F.col("true_lang"), 1).otherwise(0)
        outs.append(
            scored.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(hit).cast("long").alias("n_correct"),
            ).select(
                F.lit(name).alias("method"), "n_docs", "n_correct",
                F.expr("(n_correct * 1000000) DIV n_docs").alias("accuracy_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q590
def _q590_oracle() -> str:
    from .queries import ORACLES

    lt = ORACLES["q218_last_touch_attribution"]
    us = ORACLES["q273_u_shaped_attribution"]
    mk = ORACLES["q564_markov_attribution"]
    mk_cells = ", ".join(
        f"coalesce(max(CASE WHEN channel = '{c}' THEN removal_effect END),"
        f" CAST(0.0 AS DOUBLE)) AS e_{c}"
        for c in ("click", "error", "signup", "view")
    )
    return f"""
    WITH lt AS ({lt}),
    us AS ({us}),
    mk AS ({mk}),
    lts AS (SELECT touch_type AS channel, CAST(count(*) AS BIGINT) AS n FROM lt GROUP BY 1),
    ltt AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM lts),
    uss AS (
        SELECT channel,
               list_reduce([CAST(0.0 AS DOUBLE)]
                   || list(credit_bp ORDER BY user_id, conversion_id, touch_id),
                   (a, b) -> a + b) AS bp
        FROM us GROUP BY 1
    ),
    ust AS (
        SELECT list_reduce([CAST(0.0 AS DOUBLE)] || list(bp ORDER BY channel),
                           (a, b) -> a + b) AS t
        FROM uss
    ),
    mkp AS (SELECT {mk_cells} FROM mk)
    SELECT m.channel,
           coalesce((lts.n * 1000000) // ltt.t, 0) AS lt_share_ppm,
           coalesce(CAST(floor(uss.bp * 1000000 / ust.t) AS BIGINT), 0) AS us_share_ppm,
           m.removal_effect / (((e_click + e_error) + e_signup) + e_view) AS markov_share
    FROM mk m CROSS JOIN mkp CROSS JOIN ltt CROSS JOIN ust
    LEFT JOIN lts ON lts.channel = m.channel
    LEFT JOIN uss ON uss.channel = m.channel
    """


@query("q590_attribution_comparison", _q590_oracle())
def q590(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution-model comparison capstone: per channel the credit
    share under last-touch (q218), U-shaped 40-20-40 (q273) and Markov
    removal effect (q564) side by side — integer-ppm shares for the
    counting models, a fixed-order normalized double for Markov.  Both
    the Spark side and the oracle COMPOSE the three registered
    pipelines verbatim; the disagreement between columns is the
    marketing-mix insight."""
    from .queries import QUERIES

    lt = QUERIES["q218_last_touch_attribution"](spark, sf)
    us = QUERIES["q273_u_shaped_attribution"](spark, sf)
    # per-channel relations are tiny by construction (one row per
    # channel) but each is consumed by TWO branches below (total agg +
    # the final join): eager localCheckpoint runs each upstream
    # attribution pipeline ONCE instead of twice (the q651/q652 lesson)
    mk = QUERIES["q564_markov_attribution"](spark, sf).localCheckpoint(eager=True)
    lts = lt.groupBy(F.col("touch_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    ltt = lts.agg(F.sum("n").cast("long").alias("t_lt"))
    def _fold(sort_cols, term):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(*sort_cols, term.alias("t")))),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    uss = us.groupBy("channel").agg(
        _fold(
            [F.col("user_id"), F.col("conversion_id"), F.col("touch_id")],
            F.col("credit_bp"),
        ).alias("bp")
    ).localCheckpoint(eager=True)
    ust = uss.agg(_fold([F.col("channel")], F.col("bp")).alias("t_us"))
    mkp = mk.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("channel") == c, F.col("removal_effect"))),
                F.lit(0.0),
            ).alias(f"e_{c}")
            for c in ("click", "error", "signup", "view")
        ]
    )
    den = (
        (F.col("e_click") + F.col("e_error")) + F.col("e_signup")
    ) + F.col("e_view")
    return (
        mk.crossJoin(F.broadcast(mkp))
        .crossJoin(F.broadcast(ltt))
        .crossJoin(F.broadcast(ust))
        .join(lts.withColumnRenamed("channel", "c2"), F.col("channel") == F.col("c2"), "left")
        .join(uss.withColumnRenamed("channel", "c3"), F.col("channel") == F.col("c3"), "left")
        .select(
            "channel",
            F.coalesce(F.expr("(n * 1000000) DIV t_lt"), F.lit(0).cast("long")).alias("lt_share_ppm"),
            F.coalesce(
                F.floor(F.col("bp") * 1000000 / F.col("t_us")).cast("long"),
                F.lit(0).cast("long"),
            ).alias("us_share_ppm"),
            (F.col("removal_effect") / den).alias("markov_share"),
        )
    )


# ------------------------------------------------------------------ q591
@query(
    "q591_partition_advisor",
    """
    WITH cand_day AS (
        SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS pk FROM events
    ),
    cand_type AS (SELECT event_type AS pk FROM events),
    cand_user AS (SELECT CAST(user_id % 16 AS VARCHAR) AS pk FROM events),
    s_day AS (
        SELECT 'day' AS candidate, CAST(count(DISTINCT pk) AS BIGINT) AS n_partitions,
               CAST(max(c) AS BIGINT) AS max_rows, CAST(sum(c) AS BIGINT) AS total_rows
        FROM (SELECT pk, count(*) AS c FROM cand_day GROUP BY 1)
    ),
    s_type AS (
        SELECT 'event_type', CAST(count(DISTINCT pk) AS BIGINT),
               CAST(max(c) AS BIGINT), CAST(sum(c) AS BIGINT)
        FROM (SELECT pk, count(*) AS c FROM cand_type GROUP BY 1)
    ),
    s_user AS (
        SELECT 'user_bucket16', CAST(count(DISTINCT pk) AS BIGINT),
               CAST(max(c) AS BIGINT), CAST(sum(c) AS BIGINT)
        FROM (SELECT pk, count(*) AS c FROM cand_user GROUP BY 1)
    ),
    u AS (SELECT * FROM s_day UNION ALL SELECT * FROM s_type UNION ALL SELECT * FROM s_user)
    SELECT candidate, n_partitions, max_rows, total_rows,
           (max_rows * n_partitions * 1000000) // total_rows AS skew_ppm,
           total_rows // n_partitions AS mean_rows,
           n_partitions <= 10000
             AND (max_rows * n_partitions * 1000000) // total_rows <= 3000000 AS acceptable
    FROM u
    """,
)
def q591(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-key advisor: for each candidate layout (day /
    event_type / 16 user buckets) the partition count, the skew ratio
    max/mean in exact integer ppm, and an acceptance verdict
    (≤10k partitions, skew ≤3×) — the physical-design pre-flight a
    100 TB writer runs before save_bucketed/partitionBy."""
    ev = load_table(spark, sf, "events")
    cands = {
        "day": F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").cast("string"),
        "event_type": F.col("event_type"),
        "user_bucket16": (F.col("user_id") % 16).cast("string"),
    }
    outs = []
    for name, pk in cands.items():
        per = ev.groupBy(pk.alias("pk")).agg(F.count(F.lit(1)).alias("c"))
        outs.append(
            per.agg(
                F.count(F.lit(1)).cast("long").alias("n_partitions"),
                F.max("c").cast("long").alias("max_rows"),
                F.sum("c").cast("long").alias("total_rows"),
            ).select(F.lit(name).alias("candidate"), "n_partitions", "max_rows", "total_rows")
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    skew = F.expr("(max_rows * n_partitions * 1000000) DIV total_rows")
    return u.select(
        "candidate", "n_partitions", "max_rows", "total_rows",
        skew.alias("skew_ppm"),
        F.expr("total_rows DIV n_partitions").alias("mean_rows"),
        ((F.col("n_partitions") <= 10000) & (skew <= 3000000)).alias("acceptable"),
    )


# ------------------------------------------------------------------ q592
@query(
    "q592_temporal_cooccurrence",
    """
    WITH w AS (
        SELECT DISTINCT CAST(floor(epoch(ts) / 300.0) AS BIGINT) AS win, event_type
        FROM events
    ),
    n_w AS (SELECT CAST(count(DISTINCT win) AS BIGINT) AS nw FROM w),
    singles AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb, CAST(count(*) AS BIGINT) AS n_ab
        FROM w a JOIN w b ON a.win = b.win AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT ta, tb, n_ab, sa.n AS n_a, sb.n AS n_b, nw,
           (n_ab * nw * 1000000) // (sa.n * sb.n) AS lift_ppm
    FROM pairs JOIN singles sa ON sa.event_type = ta
    JOIN singles sb ON sb.event_type = tb
    CROSS JOIN n_w
    """,
)
def q592(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal co-occurrence lift between event types in 5-minute
    windows: baskets are time buckets (the incident-correlation
    reading of association mining), lift = P(ab)/(P(a)P(b)) as the
    exact integer cross-product n_ab·N·10⁶ DIV (n_a·n_b) — >1e6 means
    the two types cluster in time."""
    ev = load_table(spark, sf, "events")
    w = ev.select(
        F.floor(F.unix_seconds(F.col("ts")) / 300).cast("long").alias("win"),
        "event_type",
    ).distinct()
    nw = w.select("win").distinct().agg(F.count(F.lit(1)).cast("long").alias("nw"))
    singles = w.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = w.select(F.col("win"), F.col("event_type").alias("ta"))
    b = w.select(F.col("win").alias("bw"), F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, (F.col("win") == F.col("bw")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))
    return (
        pairs.join(sa, "ta").join(sb, "tb").crossJoin(F.broadcast(nw))
        .select(
            "ta", "tb", "n_ab", "n_a", "n_b", "nw",
            F.expr("(n_ab * nw * 1000000) DIV (n_a * n_b)").alias("lift_ppm"),
        )
    )


# ------------------------------------------------------------------ q593
@query(
    "q593_asof_native_parity",
    """
    WITH trades AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
    ),
    quotes AS (
        SELECT user_id, ts, value AS qv FROM events WHERE event_type = 'view'
    )
    SELECT t.event_id, t.user_id,
           round(t.value, 2) AS trade_value,
           round(q.qv, 2) AS quote_value
    FROM trades t ASOF LEFT JOIN quotes q
      ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
)
def q593(spark: SparkSession, sf: str) -> DataFrame:
    """merge_asof checked against DuckDB's NATIVE ``ASOF LEFT JOIN``
    syntax — a third, independent implementation of the backward-asof
    semantics (q13's oracle is hand-written SQL; this one is the
    engine's built-in operator), so the semantics are pinned by three
    codebases agreeing."""
    from .operators import merge

    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    quotes = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("qv")
    )
    j = merge.merge_asof(trades, quotes, on="ts", by="user_id", direction="backward")
    return j.select(
        "event_id", "user_id",
        F.round(F.col("value"), 2).alias("trade_value"),
        F.round(F.col("qv"), 2).alias("quote_value"),
    )


# ------------------------------------------------------------------ q594
def _q594_oracle() -> str:
    picks = []
    # pinball loss at tau = 3/4, slope grid in scaled thousandths
    for m in (2800, 3000, 3200):
        picks.append(f"""
    SELECT CAST({m} AS BIGINT) AS slope_milli,
           CAST(sum(CASE WHEN 1000 * y - {m} * x >= 0
                         THEN 3 * (1000 * y - {m} * x)
                         ELSE 1 * ({m} * x - 1000 * y) END) AS BIGINT) AS loss4x
    FROM pts""")
    body = "\nUNION ALL".join(picks)
    return f"""
    WITH pts AS (
        SELECT CAST(round(value) AS BIGINT) AS x,
               3 * CAST(round(value) AS BIGINT) + event_id % 21 - 5 AS y
        FROM events WHERE event_id % 11 = 0
    ),
    losses AS ({body})
    SELECT slope_milli, loss4x,
           loss4x = min(loss4x) OVER () AS is_best
    FROM losses
    """


@query("q594_quantile_reg_grid", _q594_oracle())
def q594(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile regression (τ=0.75) by slope grid search: each
    candidate slope scores the EXACT integer pinball loss
    Σ[3·r⁺ + 1·r⁻] on millicent-scaled residuals (τ weights as the
    integer ratio 3:1, no float loss anywhere); the argmin flag marks
    the grid winner.  The asymmetric noise (+15/−5 range) pulls the
    0.75-quantile line above the planted median slope."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") % 11 == 0)
    dollars = F.round(F.col("value")).cast("long")
    pts = ev.select(
        dollars.alias("x"),
        (3 * dollars + F.col("event_id") % 21 - 5).alias("y"),
    )
    outs = []
    for m in (2800, 3000, 3200):
        r = 1000 * F.col("y") - m * F.col("x")
        loss = F.when(r >= 0, 3 * r).otherwise(1 * (-r))
        outs.append(
            pts.agg(F.sum(loss).cast("long").alias("loss4x")).select(
                F.lit(m).cast("long").alias("slope_milli"), "loss4x"
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    wall = Window.partitionBy()
    return u.withColumn("is_best", F.col("loss4x") == F.min("loss4x").over(wall))


# ------------------------------------------------------------------ q595
@query(
    "q595_hashed_centroid_classifier",
    r"""
    WITH tr AS (
        SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    trh AS (
        SELECT lang,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim
        FROM tr
    ),
    cents AS (SELECT lang, dim, CAST(count(*) AS BIGINT) AS c FROM trh GROUP BY 1, 2),
    te AS (
        SELECT doc_id, lang AS true_lang,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')[1:24]) AS tok
        FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
    ),
    teh AS (
        SELECT doc_id, true_lang,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim
        FROM te
    ),
    tf AS (SELECT doc_id, true_lang, dim, CAST(count(*) AS BIGINT) AS f
           FROM teh GROUP BY 1, 2, 3),
    scores AS (
        SELECT tf.doc_id, tf.true_lang, cents.lang,
               CAST(sum(tf.f * cents.c) AS BIGINT) AS dot
        FROM tf JOIN cents USING (dim)
        GROUP BY 1, 2, 3
    ),
    norms AS (SELECT lang, CAST(sum(c * c) AS BIGINT) AS n2 FROM cents GROUP BY 1),
    ranked AS (
        SELECT s.doc_id, s.true_lang, s.lang, s.dot, n.n2,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY CAST(s.dot * s.dot AS DOUBLE) / n.n2 DESC, s.lang) AS rk
        FROM scores s JOIN norms n ON n.lang = s.lang
    )
    SELECT true_lang, lang AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rk = 1 GROUP BY 1, 2
    """,
)
def q595(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick nearest-centroid classifier: train tokens hash
    into 64 dimensions (portable md5), per-class centroids are raw
    integer counts, and each test doc picks the class maximizing
    dot²/‖c‖² — EVERY score an exact integer ratio compared via one
    identically-formed double divide, tie-broken on class.  The
    integer-exact third member of the classifier family (NB q549,
    markers q309); output is the confusion relation."""
    d = load_table(spark, sf, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    h = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % 64  # noqa: E731
    tr = (
        d.where((F.col("doc_id") % 2 == 0) & F.col("text").isNotNull())
        .select("lang", F.explode(toks).alias("tok"))
        .select("lang", h(F.col("tok")).alias("dim"))
    )
    cents = tr.groupBy("lang", "dim").agg(F.count(F.lit(1)).cast("long").alias("c"))
    te = (
        d.where((F.col("doc_id") % 2 == 1) & F.col("text").isNotNull())
        .select("doc_id", F.col("lang").alias("true_lang"),
                F.explode(F.slice(toks, 1, 24)).alias("tok"))
        .select("doc_id", "true_lang", h(F.col("tok")).alias("dim"))
    )
    tf = te.groupBy("doc_id", "true_lang", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    scores = (
        tf.join(F.broadcast(cents), "dim")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum(F.col("f") * F.col("c")).cast("long").alias("dot"))
    )
    norms = cents.groupBy("lang").agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("n2"))
    ranked = scores.join(F.broadcast(norms), "lang").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.desc((F.col("dot") * F.col("dot")).cast("double") / F.col("n2")),
                F.col("lang"),
            )
        ),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .groupBy("true_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ------------------------------------------------------------------ q596
def _q596_support_sql(edges: str) -> str:
    return f"""
        SELECT e.lo, e.hi, CAST(count(*) AS BIGINT) AS support
        FROM {edges} e
        JOIN (SELECT lo AS u, hi AS w FROM {edges}
              UNION ALL SELECT hi AS u, lo AS w FROM {edges}) adj
          ON adj.u = e.lo AND adj.w != e.hi
        JOIN {edges} y ON y.lo = least(adj.w, e.hi) AND y.hi = greatest(adj.w, e.hi)
        GROUP BY 1, 2
    """


@query(
    "q596_ktruss_peel",
    f"""
    WITH base AS (
        SELECT doc_id % 40 AS a, (doc_id * 17 + 3) % 40 AS b FROM documents
        WHERE doc_id % 40 != (doc_id * 17 + 3) % 40
        UNION ALL
        SELECT doc_id % 40, (doc_id * 11 + 5) % 40 FROM documents
        WHERE doc_id % 40 != (doc_id * 11 + 5) % 40
        UNION ALL
        SELECT doc_id % 40, (doc_id % 40 + 1) % 40 FROM documents
        UNION ALL
        SELECT doc_id % 40, (doc_id % 40 + 2) % 40 FROM documents
    ),
    e0 AS (
        SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi FROM base
    ),
    sup0 AS ({_q596_support_sql("e0")}),
    e1 AS (
        SELECT e0.lo, e0.hi FROM e0 JOIN sup0 USING (lo, hi) WHERE support >= 2
    ),
    sup1 AS ({_q596_support_sql("e1")}),
    e2 AS (
        SELECT e1.lo, e1.hi FROM e1 JOIN sup1 USING (lo, hi) WHERE support >= 2
    )
    SELECT CAST(0 AS BIGINT) AS round, CAST(count(*) AS BIGINT) AS n_edges FROM e0
    UNION ALL SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT) FROM e1
    UNION ALL SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM e2
    """,
)
def q596(spark: SparkSession, sf: str) -> DataFrame:
    """4-truss peeling, two rounds: each edge's triangle support
    counts third vertices adjacent to the edge's LOW endpoint in
    EITHER role (adjacency is the symmetrized edge list — anchoring
    on canonical lows alone misses triangles whose third vertex sits
    below the anchor), closed by the canonical edge lookup; edges
    with support < 2 peel, support recomputes on the survivors.
    Bounded rounds of exact set algebra — the community-core
    extractor."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    parts = [
        d.select((k % 40).alias("a"), ((k * mul + add) % 40).alias("b")).where(
            F.col("a") != F.col("b")
        )
        for mul, add in ((17, 3), (11, 5))
    ]
    # ring + chord edges guarantee triangles (x, x+1, x+2)
    parts.append(d.select((k % 40).alias("a"), ((k % 40 + 1) % 40).alias("b")))
    parts.append(d.select((k % 40).alias("a"), ((k % 40 + 2) % 40).alias("b")))
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p)
    e = base.select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    ).distinct()

    def support(edges):
        adj = edges.select(F.col("lo").alias("u"), F.col("hi").alias("w")).unionByName(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("w"))
        )
        y = edges.select(F.col("lo").alias("ylo"), F.col("hi").alias("yhi"))
        return (
            edges.join(adj, (F.col("u") == F.col("lo")) & (F.col("w") != F.col("hi")))
            .join(
                y,
                (F.col("ylo") == F.least("w", "hi"))
                & (F.col("yhi") == F.greatest("w", "hi")),
            )
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )

    counts = [e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).select(
        F.lit(0).cast("long").alias("round"), "n_edges")]
    cur = e
    for r in (1, 2):
        sup = support(cur)
        cur = cur.join(sup, ["lo", "hi"]).where(F.col("support") >= 2).select("lo", "hi")
        counts.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).select(
                F.lit(r).cast("long").alias("round"), "n_edges"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# ------------------------------------------------------------------ q597
def _q597_oracle() -> str:
    from .queries import ORACLES

    return f"""
    WITH hll AS ({ORACLES["q583_hll_error_audit"]}),
    cms AS ({ORACLES["q233_count_min"]}),
    kmv AS ({ORACLES["q241_kmv_sketch"]}),
    ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact
           FROM orders WHERE o_custkey IS NOT NULL)
    SELECT 'hll_p8_distinct' AS sketch, CAST(max(abs(err_ppm)) AS DOUBLE) AS worst_err_ppm
    FROM hll
    UNION ALL
    SELECT 'cms_4x256_freq',
           CAST(max(((est - exact) * 1000000) // greatest(exact, 1)) AS DOUBLE)
    FROM cms
    UNION ALL
    SELECT 'kmv64_distinct',
           round(abs(kmv.estimate - ex.exact) * 1000000 / ex.exact, 3)
    FROM kmv CROSS JOIN ex
    """


@query("q597_sketch_scorecard", _q597_oracle())
def q597(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-accuracy scorecard: worst observed relative error (ppm)
    for the three mergeable sketch families — HLL distinct (q583's
    per-group audit), Count-Min frequency (q233's probes; CMS error is
    one-sided so the worst OVERestimate is the metric), KMV distinct
    (q241 vs the exact count).  Both sides compose the registered
    pipelines verbatim — the governance table that says whether the
    sketch parameters are honest at this data scale."""
    from .queries import QUERIES

    hll = QUERIES["q583_hll_error_audit"](spark, sf)
    cms = QUERIES["q233_count_min"](spark, sf)
    kmv = QUERIES["q241_kmv_sketch"](spark, sf)
    o = load_table(spark, sf, "orders")
    ex = o.where(F.col("o_custkey").isNotNull()).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact")
    )
    r1 = hll.agg(F.max(F.abs(F.col("err_ppm"))).cast("double").alias("worst_err_ppm")).select(
        F.lit("hll_p8_distinct").alias("sketch"), "worst_err_ppm"
    )
    r2 = cms.agg(
        F.max(
            F.expr("((est - exact) * 1000000) DIV greatest(exact, 1)")
        ).cast("double").alias("worst_err_ppm")
    ).select(F.lit("cms_4x256_freq").alias("sketch"), "worst_err_ppm")
    r3 = kmv.crossJoin(F.broadcast(ex)).select(
        F.lit("kmv64_distinct").alias("sketch"),
        F.round(
            F.abs(F.col("estimate") - F.col("exact")) * 1000000 / F.col("exact"), 3
        ).alias("worst_err_ppm"),
    )
    return r1.unionByName(r2).unionByName(r3)


# ------------------------------------------------------------------ q598
@query(
    "q598_median_of_means",
    """
    WITH f AS (
        SELECT CAST(round(value) AS BIGINT)
                 + CASE WHEN event_id % 30000 = 0 THEN 100000000 ELSE 0 END AS x,
               ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 8 AS g
        FROM events
    ),
    groups AS (
        SELECT g, CAST(sum(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM f GROUP BY 1
    ),
    means AS (
        SELECT g, s / n AS m,
               row_number() OVER (ORDER BY s / n, g) AS rk
        FROM groups
    ),
    tot AS (
        SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS nt FROM groups
    )
    SELECT nt AS n,
           st / nt AS plain_mean,
           (max(CASE WHEN rk = 4 THEN m END) + max(CASE WHEN rk = 5 THEN m END)) / 2
             AS median_of_means
    FROM means CROSS JOIN tot
    GROUP BY nt, st
    """,
)
def q598(spark: SparkSession, sf: str) -> DataFrame:
    """Median-of-means robust location estimator: 8 portable-hash
    groups, each mean ONE exact rational, the median the midpoint of
    the 4th/5th order statistics under a (mean, group) total order —
    the heavy-tail-robust estimator: a handful of planted
    hundred-million-dollar rows poison at most their own hash groups,
    so the median holds while the plain mean is dragged thousands of
    dollars off."""
    ev = load_table(spark, sf, "events")
    x = F.round(F.col("value")).cast("long") + F.when(
        F.col("event_id") % 30000 == 0, 100000000
    ).otherwise(0)
    g = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 8
    )
    f = ev.select(x.alias("x"), g.alias("g"))
    groups = f.groupBy("g").agg(
        F.sum("x").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    means = groups.select(
        "g", (F.col("s") / F.col("n")).alias("m"),
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("s") / F.col("n"), F.col("g")))
        .alias("rk"),
    )
    tot = groups.agg(
        F.sum("s").cast("long").alias("st"), F.sum("n").cast("long").alias("nt")
    )
    return (
        means.crossJoin(F.broadcast(tot))
        .groupBy("nt", "st")
        .agg(
            (
                (F.max(F.when(F.col("rk") == 4, F.col("m")))
                 + F.max(F.when(F.col("rk") == 5, F.col("m")))) / 2
            ).alias("median_of_means")
        )
        .select(
            F.col("nt").alias("n"),
            (F.col("st") / F.col("nt")).alias("plain_mean"),
            "median_of_means",
        )
    )


# ------------------------------------------------------------------ q599
@query(
    "q599_poststrat_variance",
    """
    WITH f AS (
        SELECT user_id % 4 AS stratum,
               CAST(round(value) AS BIGINT) + 50 * (user_id % 4) AS y
        FROM events
    ),
    pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS q
        FROM f
    ),
    strata AS (
        SELECT stratum, CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(y) AS BIGINT) AS s_h,
               CAST(sum(y * y) AS BIGINT) AS q_h
        FROM f GROUP BY 1
    ),
    within AS (
        SELECT CAST(sum(n_h * q_h - s_h * s_h) AS BIGINT) AS w_num,
               CAST(sum(n_h) AS BIGINT) AS n2
        FROM (SELECT n_h, q_h, s_h FROM strata)
    )
    SELECT p.n,
           (CAST(p.n * p.q - p.s * p.s AS DOUBLE)) / (CAST(p.n AS DOUBLE) * p.n * p.n)
             AS pooled_se2,
           (CAST(w.w_num AS DOUBLE)) / (CAST(p.n AS DOUBLE) * p.n * p.n) AS strat_se2,
           CAST(floor(CAST((p.n * p.q - p.s * p.s) - w.w_num AS DOUBLE) * 1000000
                / CAST(p.n * p.q - p.s * p.s AS DOUBLE)) AS BIGINT) AS var_reduction_ppm
    FROM pooled p CROSS JOIN within w
    """,
)
def q599(spark: SparkSession, sf: str) -> DataFrame:
    """Post-stratification variance-reduction audit for experiments:
    pooled vs within-stratum variance of the outcome from exact
    integer power sums (n_h·Q_h − S_h² per stratum sums EXACTLY —
    integer, not float), reduction in integer ppm — quantifies how
    much a stratified estimator would shrink the CI before anyone
    runs the test.  The planted +50·stratum shift makes strata
    explain real variance."""
    ev = load_table(spark, sf, "events")
    f = ev.select(
        (F.col("user_id") % 4).alias("stratum"),
        (F.round(F.col("value")).cast("long") + 50 * (F.col("user_id") % 4)).alias("y"),
    )
    pooled = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    )
    strata = f.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("y").cast("long").alias("s_h"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q_h"),
    )
    within = strata.agg(
        F.sum(F.col("n_h") * F.col("q_h") - F.col("s_h") * F.col("s_h"))
        .cast("long")
        .alias("w_num"),
        F.sum("n_h").cast("long").alias("n2"),
    )
    j = pooled.crossJoin(F.broadcast(within))
    tot = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return j.select(
        "n",
        (tot.cast("double") / (F.col("n").cast("double") * F.col("n") * F.col("n"))).alias("pooled_se2"),
        (F.col("w_num").cast("double") / (F.col("n").cast("double") * F.col("n") * F.col("n"))).alias("strat_se2"),
        # the diff·1e6 cross-mult overflows int64 at sf0.1 — floor the
        # identical double ratio instead (operands < 2^53, exact)
        F.expr(
            "CAST(floor(CAST((n * q - s * s) - w_num AS DOUBLE) * 1000000"
            " / CAST(n * q - s * s AS DOUBLE)) AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


# ------------------------------------------------------------------ q600
def _q600_oracle() -> str:
    from .queries import ORACLES

    return f"""
    WITH sk AS ({ORACLES["q597_sketch_scorecard"]}),
    lsh AS ({ORACLES["q570_lsh_calibration"]}),
    ens AS ({ORACLES["q589_classifier_ensemble"]})
    SELECT 'sketch:' || sketch AS component, worst_err_ppm AS value FROM sk
    UNION ALL
    SELECT 'lsh:recall_high_jaccard_ppm',
           CAST((sum(CASE WHEN is_candidate THEN 1 ELSE 0 END) * 1000000)
                // greatest(count(*), 1) AS DOUBLE)
    FROM lsh WHERE s_jac >= CAST('0.9' AS DOUBLE)
    UNION ALL
    SELECT 'lsh:false_candidate_ppm',
           CAST((sum(CASE WHEN is_candidate THEN 1 ELSE 0 END) * 1000000)
                // greatest(count(*), 1) AS DOUBLE)
    FROM lsh WHERE s_jac < CAST('0.3' AS DOUBLE)
    UNION ALL
    SELECT 'classifier:best_accuracy_ppm', CAST(max(accuracy_ppm) AS DOUBLE) FROM ens
    """


@query("q600_engine_self_audit", _q600_oracle())
def q600(spark: SparkSession, sf: str) -> DataFrame:
    """QUERY 600 — the engine self-audit scorecard: one relation that
    composes the registered sketch-accuracy scorecard (q597), the LSH
    banding calibration (q570: recall on near-duplicates and the
    false-candidate rate on far pairs) and the classifier ensemble
    (q589: best accuracy) — every number produced AND oracle-replayed
    by pipelines this engine itself registered.  The meta-claim of the
    whole registry: the engine can measure its own approximations
    exactly."""
    from .queries import QUERIES

    sk = QUERIES["q597_sketch_scorecard"](spark, sf)
    # the calibration relation (~1.2k rows at sf0.1, one per sampled
    # pair) feeds TWO rate branches below: eager localCheckpoint runs
    # the q570 pipeline ONCE instead of twice (the q651/q652 lesson)
    lsh = QUERIES["q570_lsh_calibration"](spark, sf).localCheckpoint(eager=True)
    ens = QUERIES["q589_classifier_ensemble"](spark, sf)
    r1 = sk.select(
        F.concat(F.lit("sketch:"), F.col("sketch")).alias("component"),
        F.col("worst_err_ppm").alias("value"),
    )

    def _rate(df, name):
        return df.agg(
            F.sum(F.when(F.col("is_candidate"), 1).otherwise(0)).alias("c"),
            F.count(F.lit(1)).alias("n"),
        ).select(
            F.lit(name).alias("component"),
            F.expr("CAST((c * 1000000) DIV greatest(n, 1) AS DOUBLE)").alias("value"),
        )

    r2 = _rate(lsh.where(F.col("s_jac") >= 0.9), "lsh:recall_high_jaccard_ppm")
    r3 = _rate(lsh.where(F.col("s_jac") < 0.3), "lsh:false_candidate_ppm")
    r4 = ens.agg(F.max("accuracy_ppm").cast("double").alias("value")).select(
        F.lit("classifier:best_accuracy_ppm").alias("component"), "value"
    )
    return r1.unionByName(r2).unionByName(r3).unionByName(r4)


# ------------------------------------------------------------------ q601
_Q601_EDGES_SQL = """
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
            SELECT doc_id % 30 AS a, (doc_id * 7 + 2) % 30 AS b FROM documents
            WHERE doc_id % 30 != (doc_id * 7 + 2) % 30
            UNION ALL
            SELECT doc_id % 30, (doc_id % 30 + 1) % 30 FROM documents
        )
"""


@query(
    "q601_graph_distances",
    f"""
    WITH RECURSIVE e AS ({_Q601_EDGES_SQL}),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    walk AS (
        SELECT u, v, 1 AS d FROM sym
        UNION
        SELECT w.u, s.v, w.d + 1
        FROM walk w JOIN sym s ON w.v = s.u
        WHERE w.d < 30 AND w.u != s.v
    ),
    dist AS (SELECT u, v, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2)
    SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(d) AS BIGINT) AS diameter,
           (CAST(sum(d) AS BIGINT) * 1000000) // count(*) AS avg_dist_ppm
    FROM dist
    """,
)
def q601(spark: SparkSession, sf: str) -> DataFrame:
    """Exact all-pairs shortest-path summary on a 30-node undirected
    graph: min-plus DOUBLING (5 rounds cover 32 hops — each round one
    equi-join + min-agg, the log-depth APSP for bounded graphs) vs the
    oracle's hop-bounded recursive walk; diameter and mean distance in
    exact integers.  The small-graph exact path — web-scale swaps in
    landmark/HyperANF approximations."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 30).alias("a"), ((k * 7 + 2) % 30).alias("b")).where(
        F.col("a") != F.col("b")
    ).unionByName(d.select((k % 30).alias("a"), ((k % 30) + 1) % 30).toDF("a", "b"))
    e = base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")).distinct()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # min-plus doubling (5 rounds cover 32 hops) in ONE grouped Arrow
    # task over the bounded post-distinct edge relation (r7 — replaces
    # 5 eager checkpoint jobs; see _doubling_closure)
    cur = _doubling_closure(
        sym.select("u", "v", F.lit(1).alias("w")), "min"
    ).withColumnRenamed("len", "d")
    return cur.agg(
        F.countDistinct("u").cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.max("d").cast("long").alias("diameter"),
        F.expr("(CAST(sum(d) AS BIGINT) * 1000000) DIV count(*)").alias("avg_dist_ppm"),
    )


# ------------------------------------------------------------------ q602
@query(
    "q602_harmonic_centrality",
    f"""
    WITH RECURSIVE e AS ({_Q601_EDGES_SQL}),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    walk AS (
        SELECT u, v, 1 AS d FROM sym
        UNION
        SELECT w.u, s.v, w.d + 1
        FROM walk w JOIN sym s ON w.v = s.u
        WHERE w.d < 30 AND w.u != s.v
    ),
    dist AS (SELECT u, v, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2)
    SELECT u AS node,
           CAST(count(*) AS BIGINT) AS n_reachable,
           list_reduce([CAST(0.0 AS DOUBLE)] || list(CAST(1 AS BIGINT) / d ORDER BY v),
                       (a, b) -> a + b) AS harmonic
    FROM dist GROUP BY 1
    """,
)
def q602(spark: SparkSession, sf: str) -> DataFrame:
    """Harmonic centrality per node — Σ 1/d(u,v) over reachable peers,
    the disconnected-graph-safe closeness: reuses q601's exact
    min-plus distances, each reciprocal ONE integer divide, the
    per-node sum a PEER-ORDERED LEFT FOLD.  The influence ranking for
    the link graph."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 30).alias("a"), ((k * 7 + 2) % 30).alias("b")).where(
        F.col("a") != F.col("b")
    ).unionByName(d.select((k % 30).alias("a"), ((k % 30) + 1) % 30).toDF("a", "b"))
    e = base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")).distinct()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # min-plus doubling in one grouped Arrow task (r7; _doubling_closure)
    cur = _doubling_closure(
        sym.select("u", "v", F.lit(1).alias("w")), "min"
    ).withColumnRenamed("len", "d")
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("v"), (F.lit(1).cast("long") / F.col("d")).alias("t")))
                ),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("harmonic"),
    )


# ------------------------------------------------------------------ q603
@query(
    "q603_hyperanf",
    f"""
    WITH e AS ({_Q601_EDGES_SQL}),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    h AS (
        SELECT u AS node,
               ('0x' || substr(md5(u::VARCHAR), 1, 15))::BIGINT AS hv
        FROM (SELECT DISTINCT u FROM sym)
    ),
    r0 AS (
        SELECT node, CAST(hv >> 52 AS INT) AS bucket,
               CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                    ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT) AS rho
        FROM h
    ),
    r1 AS (
        SELECT node, bucket, max(rho) AS rho FROM (
            SELECT s.u AS node, r.bucket, r.rho FROM sym s JOIN r0 r ON r.node = s.v
            UNION ALL SELECT node, bucket, rho FROM r0
        ) GROUP BY 1, 2
    ),
    r2 AS (
        SELECT node, bucket, max(rho) AS rho FROM (
            SELECT s.u AS node, r.bucket, r.rho FROM sym s JOIN r1 r ON r.node = s.v
            UNION ALL SELECT node, bucket, rho FROM r1
        ) GROUP BY 1, 2
    ),
    est AS (
        SELECT 'r1' AS radius, node, count(*) AS used,
               sum((1::BIGINT << (53 - rho))) AS s
        FROM r1 GROUP BY 2
        UNION ALL
        SELECT 'r2', node, count(*), sum((1::BIGINT << (53 - rho)))
        FROM r2 GROUP BY 2
    )
    SELECT radius,
           CAST(sum(used) AS BIGINT) AS total_buckets_used,
           round(list_reduce([CAST(0.0 AS DOUBLE)] || list(
               CASE WHEN {4.2399330249068963e+20} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE <= 640.0
                         AND (256 - used) > 0
                    THEN 256.0 * ln(256.0 / (256 - used))
                    ELSE {4.2399330249068963e+20} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE
               END ORDER BY node), (a, b) -> a + b), 6) AS sum_neighborhood
    FROM est GROUP BY 1
    """,
)
def q603(spark: SparkSession, sf: str) -> DataFrame:
    """HyperANF (Boldi et al.) — the neighborhood function N(r) at
    graph scale: every node carries an HLL register set of its
    r-ball; one round = join registers across edges + per-(node,
    bucket) MAX (registers are mergeable, so the frontier never
    materializes).  Two rounds on the 30-node graph, per-node ball
    estimates summed in a NODE-ORDERED FOLD — this is the scale path
    whose exact sibling is q601's min-plus distances."""
    from .queries10 import _HLL_A
    from .operators.sketch import hll_registers_by

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 30).alias("a"), ((k * 7 + 2) % 30).alias("b")).where(
        F.col("a") != F.col("b")
    ).unionByName(d.select((k % 30).alias("a"), ((k % 30) + 1) % 30).toDF("a", "b"))
    e = base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")).distinct()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    nodes = sym.select("u").distinct()
    r0 = hll_registers_by(
        nodes.select("u", F.col("u").alias("member")), ["u"], "member", p=8, hash_kind="md5"
    ).withColumnRenamed("u", "node")
    regs = r0
    ests = []
    for rname in ("r1", "r2"):
        via = (
            sym.join(regs, regs["node"] == sym["v"])
            .select(sym["u"].alias("node"), "bucket", "rho")
        )
        regs, _ = checkpoint(
            via.unionByName(regs.select("node", "bucket", "rho"))
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
        )
        agg = regs.groupBy("node").agg(
            F.count(F.lit(1)).alias("used"),
            F.sum(F.expr("CAST(shiftleft(1L, 53 - rho) AS BIGINT)")).alias("s"),
        )
        a = float(_HLL_A)
        raw = F.lit(a) / (
            (F.col("s") + (F.lit(256) - F.col("used")) * F.lit(1 << 53)).cast("double")
        )
        v = F.lit(256) - F.col("used")
        est = F.when(
            (raw <= 640.0) & (v > 0), F.lit(256.0) * F.log(F.lit(256.0) / v)
        ).otherwise(raw)
        ests.append(
            agg.select(F.lit(rname).alias("radius"), "node", "used", est.alias("est"))
        )
    u = ests[0].unionByName(ests[1])
    return u.groupBy("radius").agg(
        F.sum("used").cast("long").alias("total_buckets_used"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("node"), F.col("est").alias("t")))),
                    lambda s: s.getField("t"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sum_neighborhood"),
    )


# ------------------------------------------------------------------ q604
@query(
    "q604_bipartite_check",
    f"""
    WITH RECURSIVE e AS ({_Q601_EDGES_SQL}),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    walk AS (
        SELECT u, v, 1 AS d FROM sym
        UNION
        SELECT w.u, s.v, w.d + 1
        FROM walk w JOIN sym s ON w.v = s.u
        WHERE w.d < 30 AND w.u != s.v
    ),
    dist AS (SELECT u, v, CAST(min(d) AS BIGINT) AS d FROM walk GROUP BY 1, 2),
    comp AS (
        SELECT v AS node, min(u) AS root FROM (
            SELECT u, v FROM dist UNION SELECT u, u FROM dist
        ) GROUP BY 1
    ),
    lvl AS (
        SELECT c.node, c.root,
               CASE WHEN c.node = c.root THEN 0 ELSE d.d END % 2 AS side
        FROM comp c LEFT JOIN dist d ON d.u = c.root AND d.v = c.node
    ),
    odd AS (
        SELECT CAST(count(*) AS BIGINT) AS n_odd_edges
        FROM e JOIN lvl a ON a.node = e.u JOIN lvl b ON b.node = e.v
        WHERE a.side = b.side
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           n_odd_edges, n_odd_edges = 0 AS is_bipartite
    FROM odd
    """,
)
def q604(spark: SparkSession, sf: str) -> DataFrame:
    """Bipartite test via BFS level parity: each node's side is its
    exact shortest-path distance (q601's min-plus doubling) from its
    component's min-id root, mod 2; the graph is two-colorable iff NO
    edge joins same-side endpoints (each same-side edge witnesses an
    odd cycle).  Exact set algebra end to end."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 30).alias("a"), ((k * 7 + 2) % 30).alias("b")).where(
        F.col("a") != F.col("b")
    ).unionByName(d.select((k % 30).alias("a"), ((k % 30) + 1) % 30).toDF("a", "b"))
    e = base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")).distinct()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # min-plus doubling in one grouped Arrow task (r7; _doubling_closure)
    cur = _doubling_closure(
        sym.select("u", "v", F.lit(1).alias("w")), "min"
    ).withColumnRenamed("len", "d")
    pairs = cur.select("u", "v").unionByName(cur.select(F.col("u").alias("u"), F.col("u").alias("v")))
    comp = pairs.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("root"))
    lvl = comp.join(
        cur.select(F.col("u").alias("root"), F.col("v").alias("node"), "d"),
        ["root", "node"], "left",
    ).select(
        "node", "root",
        (F.when(F.col("node") == F.col("root"), 0).otherwise(F.col("d")) % 2).alias("side"),
    )
    la = lvl.select(F.col("node").alias("u"), F.col("side").alias("sa"))
    lb = lvl.select(F.col("node").alias("v"), F.col("side").alias("sb"))
    odd = (
        e.join(la, "u").join(lb, "v")
        .where(F.col("sa") == F.col("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_odd_edges"))
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return ne.crossJoin(odd).select(
        "n_edges", "n_odd_edges", (F.col("n_odd_edges") == 0).alias("is_bipartite")
    )


# ------------------------------------------------------------------ q605
@query(
    "q605_percolation",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT least(doc_id % 31, (doc_id * 12 + 5) % 31) AS u,
               greatest(doc_id % 31, (doc_id * 12 + 5) % 31) AS v
        FROM documents WHERE doc_id % 31 != (doc_id * 12 + 5) % 31
    ),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM sym GROUP BY 1),
    hubs AS (
        SELECT node FROM (
            SELECT node, row_number() OVER (ORDER BY degree DESC, node) AS rk FROM deg
        ) WHERE rk <= 2
    ),
    sym2 AS (
        SELECT s.u, s.v FROM sym s
        WHERE s.u NOT IN (SELECT node FROM hubs) AND s.v NOT IN (SELECT node FROM hubs)
    ),
    full_walk AS (
        SELECT u, v FROM sym
        UNION
        SELECT w.u, s.v FROM full_walk w JOIN sym s ON w.v = s.u WHERE w.u != s.v
    ),
    full_comp AS (
        SELECT node, min(peer) AS component FROM (
            SELECT u AS node, v AS peer FROM full_walk UNION ALL SELECT u, u FROM sym
        ) GROUP BY 1
    ),
    cut_walk AS (
        SELECT u, v FROM sym2
        UNION
        SELECT w.u, s.v FROM cut_walk w JOIN sym2 s ON w.v = s.u WHERE w.u != s.v
    ),
    cut_comp AS (
        SELECT node, min(peer) AS component FROM (
            SELECT u AS node, v AS peer FROM cut_walk UNION ALL SELECT u, u FROM sym2
        ) GROUP BY 1
    )
    SELECT 'full' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM full_comp) AS n_nodes,
           (SELECT CAST(max(c) AS BIGINT)
            FROM (SELECT count(*) AS c FROM full_comp GROUP BY component)) AS largest_cc
    UNION ALL
    SELECT 'hubs_removed',
           (SELECT CAST(count(*) AS BIGINT) FROM cut_comp),
           (SELECT CAST(max(c) AS BIGINT)
            FROM (SELECT count(*) AS c FROM cut_comp GROUP BY component))
    """,
)
def q605(spark: SparkSession, sf: str) -> DataFrame:
    """Percolation robustness: largest connected component before and
    after removing the top-2 degree hubs (operators/graph.
    connected_components on both graphs) — the attack-surface metric
    for link/identity graphs; exact set algebra, recursive-CTE
    replay."""
    from .operators.graph import connected_components

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 31).alias("a"), ((k * 12 + 5) % 31).alias("b")).where(
        F.col("a") != F.col("b")
    )
    # ≤60 undirected edges on 31 nodes: materialize e once — sym is
    # e ∪ swap(e), which would otherwise re-run the documents scan
    # twice, and sym itself feeds FOUR consumers (degrees, hub
    # pruning, both tagged variants)
    e = (
        base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    hubs = (
        deg.withColumn(
            "rk", F.row_number().over(Window.partitionBy().orderBy(F.desc("degree"), "node"))
        )
        .where(F.col("rk") <= 2)
        .select("node")
    )
    ha = hubs.select(F.col("node").alias("u"))
    hb = hubs.select(F.col("node").alias("v"))
    sym2 = sym.join(ha, "u", "left_anti").join(hb, "v", "left_anti")

    # BOTH variants resolve in ONE grouped label-propagation loop
    # (group_cols=variant): disjoint graphs cost max-diameter rounds,
    # not the sum of two runs.  Pruned permutation graphs leave long
    # paths, so keep the raised round budget (pointer jumping makes
    # each diameter-30 chain converge in ~6 rounds anyway).
    tagged = (
        sym.select(F.lit("full").alias("variant"), F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        .unionByName(
            sym2.select(
                F.lit("hubs_removed").alias("variant"),
                F.col("u").alias("id_a"),
                F.col("v").alias("id_b"),
            )
        )
    )
    cc = connected_components(tagged, max_iter=40, group_cols=["variant"])
    sizes = cc.groupBy("variant", "component").agg(F.count(F.lit(1)).alias("c"))
    agg = sizes.groupBy("variant").agg(
        F.sum("c").cast("long").alias("n_nodes"),
        F.max("c").cast("long").alias("largest_cc"),
    )
    # Two-variant spine: a fully hub-pruned graph has zero edges, so
    # the grouped CC relation would drop that variant's row entirely —
    # the oracle's scalar subqueries still emit (variant, 0, NULL).
    spine = spark.createDataFrame([("full",), ("hubs_removed",)], ["variant"])
    return (
        F.broadcast(spine)
        .join(agg, "variant", "left")
        .select(
            "variant",
            F.coalesce(F.col("n_nodes"), F.lit(0)).cast("long").alias("n_nodes"),
            F.col("largest_cc").cast("long").alias("largest_cc"),
        )
    )


# ------------------------------------------------------------------ q606
@query(
    "q606_script_mix_audit",
    """
    WITH seeded AS (
        SELECT lang,
               text || CASE WHEN lang = 'zh' THEN ' 中文内容样本' ELSE '' END AS t
        FROM documents WHERE text IS NOT NULL
    ),
    f AS (
        SELECT lang,
               CAST(len(regexp_extract_all(t, '[a-zA-Z]')) AS BIGINT) AS latin_chars,
               CAST(len(regexp_extract_all(t, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk_chars,
               CAST(length(t) AS BIGINT) AS total_chars
        FROM seeded
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(latin_chars) AS BIGINT) AS latin_chars,
           CAST(sum(cjk_chars) AS BIGINT) AS cjk_chars,
           CAST(sum(CASE WHEN latin_chars > 0 AND cjk_chars > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mixed,
           (CAST(sum(cjk_chars) AS BIGINT) * 1000000)
             // greatest(CAST(sum(total_chars) AS BIGINT), 1) AS cjk_ppm
    FROM f GROUP BY 1
    """,
)
def q606(spark: SparkSession, sf: str) -> DataFrame:
    """Script-mix corpus audit per language label: Latin vs CJK
    character mass (explicit \\u4e00-\\u9fff range — Java and RE2 name
    unicode classes differently, the raw range is the portable form),
    mixed-script doc counts, CJK share in integer ppm — the
    multilingual-curation hygiene check (the synthetic corpus is all-Latin, so the
    zh docs carry a deterministic planted CJK suffix on BOTH sides to
    exercise the counters)."""
    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    t = F.concat(
        F.col("text"),
        F.when(F.col("lang") == "zh", F.lit(" 中文内容样本")).otherwise(F.lit("")),
    )
    seeded = d.select("lang", t.alias("t"))
    latin = F.expr("CAST(regexp_count(t, '[a-zA-Z]') AS BIGINT)")
    cjk = F.expr("CAST(regexp_count(t, '[\\\\x{4e00}-\\\\x{9fff}]') AS BIGINT)")
    f = seeded.select(
        "lang",
        latin.alias("latin_chars"),
        cjk.alias("cjk_chars"),
        F.length("t").cast("long").alias("total_chars"),
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("latin_chars").cast("long").alias("latin_chars"),
        F.sum("cjk_chars").cast("long").alias("cjk_chars"),
        F.sum(F.when((F.col("latin_chars") > 0) & (F.col("cjk_chars") > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_mixed"),
        F.expr(
            "(CAST(sum(cjk_chars) AS BIGINT) * 1000000)"
            " DIV greatest(CAST(sum(total_chars) AS BIGINT), 1)"
        ).alias("cjk_ppm"),
    )


# ------------------------------------------------------------------ q607
_Q607_FKS = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _q607_oracle() -> str:
    picks = []
    for name, child, ck, parent, pk in _Q607_FKS:
        picks.append(
            f"SELECT '{name}' AS fk,\n"
            f"       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,\n"
            f"       (SELECT CAST(count(*) AS BIGINT) FROM {child} c\n"
            f"        WHERE c.{ck} IS NOT NULL AND NOT EXISTS\n"
            f"          (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})) AS n_orphans"
        )
    body = "\nUNION ALL\n".join(picks)
    return f"SELECT fk, n_child, n_orphans, n_orphans = 0 AS intact FROM ({body})"


@query("q607_ri_audit", _q607_oracle())
def q607(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity audit across every foreign key of the
    star schema in one relation: each FK is ONE anti-join count
    (broadcast the parent keys — the dim side is always the small
    side), orphan counts exact — the data-contract sweep a warehouse
    runs after every load."""
    outs = []
    for name, child, ck, parent, pk in _Q607_FKS:
        c = load_table(spark, sf, child)
        p = load_table(spark, sf, parent).select(F.col(pk).alias("__pk__"))
        n_child = c.count()
        orphans = (
            c.where(F.col(ck).isNotNull())
            .join(F.broadcast(p), F.col(ck) == F.col("__pk__"), "left_anti")
            .count()
        )
        outs.append((name, int(n_child), int(orphans)))
    rows = [(n, c_, o, o == 0) for n, c_, o in outs]
    return spark.createDataFrame(rows, "fk string, n_child bigint, n_orphans bigint, intact boolean")


# ------------------------------------------------------------------ q608
@query(
    "q608_watermark_advisor",
    """
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               epoch_us(ts) + ((event_id * 37) % 172800 - 86400) * 1000000 AS ak
        FROM events
    ),
    runm AS (
        SELECT user_id, us,
               max(us) OVER (PARTITION BY user_id ORDER BY ak, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen
        FROM seq
    ),
    late AS (
        SELECT greatest(seen - us, 0) AS late_us
        FROM runm WHERE seen IS NOT NULL
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_arrivals,
               CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        FROM late
    ),
    hist AS (SELECT late_us, CAST(count(*) AS BIGINT) AS c FROM late GROUP BY 1),
    cum AS (
        SELECT late_us,
               CAST(sum(c) OVER (ORDER BY late_us
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cc,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM hist
    ),
    p99 AS (
        SELECT CAST(min(late_us) AS BIGINT) AS p99_late_us
        FROM cum WHERE cc >= (99 * n + 99) // 100
    )
    SELECT a.n_arrivals, a.n_late,
           (a.n_late * 1000000) // a.n_arrivals AS late_ppm,
           p.p99_late_us,
           (p.p99_late_us + 999999) // 1000000 AS recommended_watermark_s
    FROM agg a CROSS JOIN p99 p
    """,
)
def q608(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark-sizing advisor for streaming ingest: arrival order is a
    deterministically jittered clock (±1 day from event time — the
    shuffle a real transport inflicts), lateness = how far an event's
    event time sits BEHIND the max already-arrived event time per
    user (an exact integer running max — fold-safe), late fraction in ppm, the p99 lateness by ⌈99n/100⌉ rank
    selection, and the ceil-seconds watermark that would admit 99% of
    late data.  The relation withWatermark() should be configured
    from."""
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "user_id", "event_id", us.alias("us"),
        (us + ((F.col("event_id") * 37) % 172800 - 86400) * 1000000).alias("ak"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ak", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runm = seq.select("user_id", "us", F.max("us").over(w).alias("seen"))
    late = runm.where(F.col("seen").isNotNull()).select(
        F.greatest(F.col("seen") - F.col("us"), F.lit(0).cast("long")).alias("late_us")
    )
    agg = late.agg(
        F.count(F.lit(1)).cast("long").alias("n_arrivals"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).cast("long").alias("n_late"),
    )
    # p99 by rank over the VALUE histogram (bounded, aggregated input) —
    # ranking raw arrivals globally is the single-task bottleneck lint
    # rightly flags
    hist = late.groupBy("late_us").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = Window.partitionBy().orderBy("late_us").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "late_us",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    p99 = cum.where(F.col("cc") >= F.expr("(99 * n + 99) DIV 100")).agg(
        F.min("late_us").cast("long").alias("p99_late_us")
    )
    return agg.crossJoin(F.broadcast(p99)).select(
        "n_arrivals", "n_late",
        F.expr("(n_late * 1000000) DIV n_arrivals").alias("late_ppm"),
        "p99_late_us",
        F.expr("(p99_late_us + 999999) DIV 1000000").alias("recommended_watermark_s"),
    )


# ------------------------------------------------------------------ q609
@query(
    "q609_dedup_savings",
    r"""
    WITH d AS (
        SELECT source, doc_id, n_chars,
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM documents WHERE text IS NOT NULL
    ),
    keep AS (
        SELECT source, doc_id, n_chars FROM (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rk
            FROM d
        ) WHERE rk = 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS bytes_raw,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(k2.n_chars), 0) AS BIGINT) AS bytes_kept,
           ((CAST(sum(d.n_chars) AS BIGINT) - CAST(coalesce(sum(k2.n_chars), 0) AS BIGINT))
              * 1000000) // greatest(CAST(sum(d.n_chars) AS BIGINT), 1) AS savings_ppm
    FROM d
    LEFT JOIN keep k ON k.doc_id = d.doc_id
    LEFT JOIN keep k2 ON k2.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def q609(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup storage-savings report per source: exact dedup keeps the
    min-id doc per normalized text (the dedup_exact rule), bytes
    before/after and savings in integer ppm — the ROI line a curation
    run reports before anyone green-lights the near-dup pass."""
    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    base = d.select("source", "doc_id", "n_chars", norm.alias("norm"))
    keep = (
        base.withColumn(
            "rk", F.row_number().over(Window.partitionBy("norm").orderBy("doc_id"))
        )
        .where(F.col("rk") == 1)
        .select(F.col("doc_id").alias("kid"), F.col("n_chars").alias("kchars"))
    )
    j = base.join(keep, base["doc_id"] == keep["kid"], "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("bytes_raw"),
        F.count("kid").cast("long").alias("n_kept"),
        F.coalesce(F.sum("kchars"), F.lit(0)).cast("long").alias("bytes_kept"),
    ).select(
        "source", "n_docs", "bytes_raw", "n_kept", "bytes_kept",
        F.expr(
            "((bytes_raw - bytes_kept) * 1000000) DIV greatest(bytes_raw, 1)"
        ).alias("savings_ppm"),
    )


# ------------------------------------------------------------------ q610
@query(
    "q610_reciprocal_best_match",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    capped AS (SELECT tf.* FROM tf JOIN dfreq USING (tok) WHERE dfreq.df <= 50),
    dots AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id != b.doc_id
        GROUP BY 1, 2
    ),
    best AS (
        SELECT ia, ib, dot FROM (
            SELECT ia, ib, dot,
                   row_number() OVER (PARTITION BY ia ORDER BY dot DESC, ib) AS rk
            FROM dots
        ) WHERE rk = 1
    )
    SELECT a.ia AS doc_a, a.ib AS doc_b, a.dot
    FROM best a JOIN best b ON a.ib = b.ia AND b.ib = a.ia
    WHERE a.ia < a.ib
    """,
)
def q610(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal best match entity linking: each doc's single best
    sparse-dot neighbor (inverted-index join, df-capped, tie-broken on
    id), kept only when the choice is MUTUAL — the high-precision
    pairing rule record linkage uses before any threshold tuning."""
    dots = _sparse_dots(_q577_capped_tf(spark, sf), F.col("ia") != F.col("ib"))
    best = (
        dots.withColumn(
            "rk", F.row_number().over(Window.partitionBy("ia").orderBy(F.desc("dot"), "ib"))
        )
        .where(F.col("rk") == 1)
        .select("ia", "ib", "dot")
    )
    rev = best.select(F.col("ia").alias("ib"), F.col("ib").alias("ia"))
    return (
        best.join(rev, ["ia", "ib"])
        .where(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "dot")
    )


# ------------------------------------------------------------------ q611
@query(
    "q611_critical_path",
    """
    WITH RECURSIVE tasks AS (
        SELECT DISTINCT doc_id % 25 AS task,
               (doc_id % 25) * 13 % 47 + 1 AS dur
        FROM documents
    ),
    e AS (
        SELECT DISTINCT t.task AS u, (t.task * 7 + 3) % 25 AS v
        FROM tasks t WHERE t.task < (t.task * 7 + 3) % 25
        UNION
        SELECT DISTINCT t.task, t.task + 1 FROM tasks t WHERE t.task + 1 < 25
    ),
    wd AS (
        SELECT e.u, e.v, td.dur AS w FROM e JOIN tasks td ON td.task = e.u
    ),
    walk AS (
        SELECT u, v, w AS len FROM wd
        UNION
        SELECT wk.u, s.v, wk.len + s.w
        FROM walk wk JOIN wd s ON wk.v = s.u
    ),
    lp AS (SELECT u, v, CAST(max(len) AS BIGINT) AS longest FROM walk GROUP BY 1, 2),
    fin AS (SELECT DISTINCT v AS task FROM e WHERE v NOT IN (SELECT u FROM e)),
    ends AS (
        SELECT lp.u, lp.v, lp.longest + td.dur AS total
        FROM lp JOIN fin ON fin.task = lp.v JOIN tasks td ON td.task = lp.v
    )
    SELECT CAST(max(total) AS BIGINT) AS critical_path_len,
           CAST(min(u) FILTER (WHERE total = (SELECT max(total) FROM ends)) AS BIGINT)
             AS start_task,
           CAST(min(v) FILTER (WHERE total = (SELECT max(total) FROM ends)) AS BIGINT)
             AS end_task
    FROM ends
    """,
)
def q611(spark: SparkSession, sf: str) -> DataFrame:
    """Critical path of a task DAG (project-scheduling / pipeline-DAG
    analytics): edges always point to HIGHER task ids (acyclic by
    construction), weights are source-task durations, and the longest
    path is MAX-PLUS doubling — the mirror of q601's min-plus APSP (5
    rounds cover the 25-deep DAG); terminal tasks add their own
    duration.  Exact integers, recursive-CTE replay, deterministic
    argmax endpoints."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    tasks = d.select(
        (k % 25).alias("task"), ((k % 25) * 13 % 47 + 1).alias("dur")
    ).distinct()
    e1 = tasks.select(
        F.col("task").alias("u"), ((F.col("task") * 7 + 3) % 25).alias("v")
    ).where(F.col("u") < F.col("v"))
    e2 = tasks.select(F.col("task").alias("u"), (F.col("task") + 1).alias("v")).where(
        F.col("v") < 25
    )
    e = e1.unionByName(e2).distinct()
    wd = e.join(tasks.withColumnRenamed("task", "u"), "u").select(
        "u", "v", F.col("dur").alias("w")
    )
    # max-plus doubling in one grouped Arrow task (r7; _doubling_closure)
    cur = _doubling_closure(wd, "max")
    fin = e.select(F.col("v").alias("task")).exceptAll(
        e.select(F.col("u").alias("task"))
    ).distinct()
    ends = (
        cur.join(fin, cur["v"] == fin["task"])
        .join(tasks.select(F.col("task").alias("v"), "dur"), "v")
        .select("u", "v", (F.col("len") + F.col("dur")).alias("total"))
    )
    best = ends.agg(F.max("total").alias("mt"))
    return (
        ends.crossJoin(F.broadcast(best))
        .where(F.col("total") == F.col("mt"))
        .agg(
            F.max("total").cast("long").alias("critical_path_len"),
            F.min("u").cast("long").alias("start_task"),
            F.min("v").cast("long").alias("end_task"),
        )
    )


# ------------------------------------------------------------------ q612
@query(
    "q612_cpm_schedule",
    """
    WITH RECURSIVE tasks AS (
        SELECT DISTINCT doc_id % 25 AS task,
               (doc_id % 25) * 13 % 47 + 1 AS dur
        FROM documents
    ),
    e AS (
        SELECT DISTINCT t.task AS u, (t.task * 7 + 3) % 25 AS v
        FROM tasks t WHERE t.task < (t.task * 7 + 3) % 25
        UNION
        SELECT DISTINCT t.task, t.task + 2 FROM tasks t WHERE t.task + 2 < 25
        UNION
        SELECT DISTINCT t.task, t.task + 3 FROM tasks t WHERE t.task + 3 < 25
    ),
    wd AS (SELECT e.u, e.v, td.dur AS w FROM e JOIN tasks td ON td.task = e.u),
    walk AS (
        SELECT u, v, w AS len FROM wd
        UNION
        SELECT wk.u, s.v, wk.len + s.w FROM walk wk JOIN wd s ON wk.v = s.u
    ),
    lp AS (SELECT u, v, CAST(max(len) AS BIGINT) AS longest FROM walk GROUP BY 1, 2),
    es AS (
        SELECT t.task, t.dur,
               coalesce((SELECT max(lp.longest) FROM lp WHERE lp.v = t.task), 0) AS es
        FROM tasks t
    ),
    lt AS (
        SELECT t.task,
               greatest(t.dur,
                        coalesce((SELECT max(lp.longest + t2.dur)
                                  FROM lp JOIN tasks t2 ON t2.task = lp.v
                                  WHERE lp.u = t.task), 0)) AS tail_len
        FROM tasks t
    ),
    proj AS (SELECT CAST(max(es + dur) AS BIGINT) AS plen FROM es)
    SELECT es.task, es.dur,
           CAST(es.es AS BIGINT) AS earliest_start,
           CAST(es.es + es.dur AS BIGINT) AS earliest_finish,
           CAST(proj.plen - lt.tail_len - es.es AS BIGINT) AS slack,
           proj.plen - lt.tail_len - es.es = 0 AS critical
    FROM es JOIN lt ON lt.task = es.task CROSS JOIN proj
    """,
)
def q612(spark: SparkSession, sf: str) -> DataFrame:
    """Full critical-path-method schedule over the q611 task DAG:
    earliest start = longest inbound path (max-plus doubling), latest
    start = project length − longest outbound chain (the same
    relation read from the other endpoint), slack = LS − ES, critical
    tasks at slack 0 — the zero-float scheduling relation every
    pipeline orchestrator wants."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    tasks = d.select(
        (k % 25).alias("task"), ((k % 25) * 13 % 47 + 1).alias("dur")
    ).distinct()
    e1 = tasks.select(
        F.col("task").alias("u"), ((F.col("task") * 7 + 3) % 25).alias("v")
    ).where(F.col("u") < F.col("v"))
    e2 = tasks.select(F.col("task").alias("u"), (F.col("task") + 2).alias("v")).where(
        F.col("v") < 25
    )
    e3 = tasks.select(F.col("task").alias("u"), (F.col("task") + 3).alias("v")).where(
        F.col("v") < 25
    )
    e = e1.unionByName(e2).unionByName(e3).distinct()
    wd = e.join(tasks.withColumnRenamed("task", "u"), "u").select(
        "u", "v", F.col("dur").alias("w")
    )
    # max-plus doubling in one grouped Arrow task (r7; _doubling_closure)
    cur = _doubling_closure(wd, "max")
    inbound = cur.groupBy(F.col("v").alias("task")).agg(F.max("len").alias("in_len"))
    es = tasks.join(inbound, "task", "left").select(
        "task", "dur", F.coalesce(F.col("in_len"), F.lit(0)).alias("es")
    )
    out_chain = (
        cur.join(tasks.select(F.col("task").alias("v"), F.col("dur").alias("vd")), "v")
        .groupBy(F.col("u").alias("task"))
        .agg(F.max(F.col("len") + F.col("vd")).alias("chain"))
    )
    lt = tasks.join(out_chain, "task", "left").select(
        "task",
        F.greatest(F.col("dur").cast("long"), F.coalesce(F.col("chain"), F.lit(0)).cast("long")).alias("tail_len"),
    )
    proj = es.agg(F.max(F.col("es") + F.col("dur")).cast("long").alias("plen"))
    slack = F.col("plen") - F.col("tail_len") - F.col("es")
    return (
        es.join(lt, "task")
        .crossJoin(F.broadcast(proj))
        .select(
            "task", "dur",
            F.col("es").cast("long").alias("earliest_start"),
            (F.col("es") + F.col("dur")).cast("long").alias("earliest_finish"),
            slack.cast("long").alias("slack"),
            (slack == 0).alias("critical"),
        )
    )


# ------------------------------------------------------------------ q613
@query(
    "q613_lateral_topk",
    """
    SELECT o.o_orderkey, t.l_linenumber, t.cents
    FROM orders o JOIN LATERAL (
        SELECT l_linenumber, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        ORDER BY cents DESC, l_linenumber LIMIT 2
    ) t ON true
    WHERE o.o_orderkey % 50 = 0
    """,
)
def q613(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL top-k parity: Spark 4's LATERAL subquery and
    DuckDB's LATERAL both rank each order's two priciest lines under a
    (cents DESC, linenumber) total order — the modern SQL surface for
    per-row top-k, checked engine against engine with exact cent
    values."""
    load_table(spark, sf, "orders").createOrReplaceTempView("__q613_o")
    load_table(spark, sf, "lineitem").createOrReplaceTempView("__q613_l")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.cents
        FROM __q613_o o JOIN LATERAL (
            SELECT l_linenumber, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
            FROM __q613_l l WHERE l.l_orderkey = o.o_orderkey
            ORDER BY cents DESC, l_linenumber LIMIT 2
        ) t
        WHERE o.o_orderkey % 50 = 0
        """
    )


# ------------------------------------------------------------------ q614
@query(
    "q614_unpivot_parity",
    """
    WITH wide AS (
        SELECT event_type,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even_users,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS odd_users,
               CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS revenue
        FROM events GROUP BY 1
    )
    SELECT event_type, metric, val
    FROM (UNPIVOT wide ON even_users, odd_users, revenue INTO NAME metric VALUE val)
    """,
)
def q614(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT surface parity (the melt/wide-to-long SQL form): Spark
    4's ``UNPIVOT (val FOR metric IN …)`` vs DuckDB's ``UNPIVOT … INTO
    NAME … VALUE …`` over the same exact-integer wide aggregate —
    column-to-row semantics and name/value pairing checked engine
    against engine."""
    load_table(spark, sf, "events").createOrReplaceTempView("__q614_e")
    return spark.sql(
        """
        WITH wide AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even_users,
                   CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS odd_users,
                   CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS revenue
            FROM __q614_e GROUP BY 1
        )
        SELECT event_type, metric, val
        FROM wide UNPIVOT (val FOR metric IN (even_users, odd_users, revenue))
        """
    )


# ------------------------------------------------------------------ q615
def _q615_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    props{r} AS (
        SELECT s.w, rk.f, rk.t_score
        FROM st{r - 1} s JOIN rk ON rk.w = s.w AND rk.wrank = s.n_prop + 1
        WHERE s.f IS NULL
    ),
    cand{r} AS (
        SELECT w, f, t_score FROM props{r}
        UNION ALL
        SELECT s.w, s.f, rk.t_score
        FROM st{r - 1} s JOIN rk ON rk.w = s.w AND rk.f = s.f
        WHERE s.f IS NOT NULL
    ),
    win{r} AS (
        SELECT w, f FROM (
            SELECT w, f, row_number() OVER (PARTITION BY f ORDER BY t_score DESC, w) AS b
            FROM cand{r}
        ) WHERE b = 1
    ),
    st{r} AS (
        SELECT s.w,
               win{r}.f AS f,
               s.n_prop + (CASE WHEN p.w IS NOT NULL THEN 1 ELSE 0 END) AS n_prop
        FROM st{r - 1} s
        LEFT JOIN props{r} p ON p.w = s.w
        LEFT JOIN win{r} ON win{r}.w = s.w
    )""")
    body = ",".join(rounds)
    return f"""
    WITH agents AS (SELECT DISTINCT doc_id % 20 AS a FROM documents),
    prefs AS (
        SELECT w.a AS w, f.a AS f,
               ('0x' || substr(md5(w.a::VARCHAR || ':' || f.a::VARCHAR), 1, 15))::BIGINT AS s_score,
               ('0x' || substr(md5(f.a::VARCHAR || '>' || w.a::VARCHAR), 1, 15))::BIGINT AS t_score
        FROM agents w CROSS JOIN agents f
    ),
    rk AS (
        SELECT w, f, s_score, t_score,
               row_number() OVER (PARTITION BY w ORDER BY s_score DESC, f) AS wrank
        FROM prefs
    ),
    st0 AS (SELECT a AS w, CAST(NULL AS BIGINT) AS f, 0 AS n_prop FROM agents),{body}
    SELECT w, f AS firm, CAST(n_prop AS BIGINT) AS n_proposals,
           f IS NOT NULL AS matched
    FROM st3
    """


@query("q615_stable_matching", _q615_oracle())
def q615(spark: SparkSession, sf: str) -> DataFrame:
    """Gale-Shapley deferred acceptance, three unrolled parallel
    rounds on a 20×20 market with portable-hash preferences: each
    round the unmatched side proposes to its next-ranked counterparty
    (rank = proposals already made + 1), every firm keeps the best of
    incumbents + proposals under its own hash preference (tie-free
    BIGINT scores), displaced workers rejoin the pool.  Bounded rounds
    ARE the algorithm (the market-design/assignment primitive);
    state is a plain (worker, firm, n_proposals) relation per round."""
    d = load_table(spark, sf, "documents")
    agents = d.select((F.col("doc_id") % 20).alias("a")).distinct()
    w = agents.select(F.col("a").alias("w"))
    f = agents.select(F.col("a").alias("f"))
    h = lambda c1, sep, c2: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(c1.cast("string"), F.lit(sep), c2.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    prefs = w.crossJoin(f).select(
        "w", "f",
        h(F.col("w"), ":", F.col("f")).alias("s_score"),
        h(F.col("f"), ">", F.col("w")).alias("t_score"),
    )
    # r7: the 3 unrolled rounds (each round: 2 joins + a rank window +
    # an eager per-round checkpoint over ≤400 rows) run in ONE grouped
    # Arrow task — see _gale_shapley_rounds for the exact-replay
    # argument; the ranked preference table stays a Spark relation.
    rk = prefs.withColumn(
        "wrank",
        F.row_number().over(Window.partitionBy("w").orderBy(F.desc("s_score"), "f")),
    )
    st = _gale_shapley_rounds(rk, rounds=3)
    return st.select(
        "w", F.col("f").alias("firm"),
        F.col("n_prop").cast("long").alias("n_proposals"),
        F.col("f").isNotNull().alias("matched"),
    )


# ------------------------------------------------------------------ q616
@query(
    "q616_revenue_equivalence",
    """
    WITH bids AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               user_id AS bidder, CAST(round(value * 100) AS BIGINT) AS bid
        FROM events
    ),
    ranked AS (
        SELECT event_type, day, bid,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY bid DESC, bidder) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
        FROM bids
    ),
    lots AS (
        SELECT event_type, day, CAST(max(n) AS BIGINT) AS n,
               max(CASE WHEN rn = 1 THEN bid END) AS b1,
               max(CASE WHEN rn = 2 THEN bid END) AS b2
        FROM ranked WHERE rn <= 2 GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lots,
           CAST(sum(coalesce(b2, 0)) AS BIGINT) AS second_price_revenue,
           CAST(sum((b1 * (n - 1)) // n) AS BIGINT) AS shaded_first_price_revenue
    FROM lots WHERE n >= 2
    """,
)
def q616(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue-equivalence check: per lot the second-price revenue vs
    the risk-neutral first-price equilibrium bid b·(n−1)/n (exact
    integer DIV) — auction theory says the two columns should be close
    under symmetric bidders, and the relation measures how close on
    real bid data.  One top-2 ranking pass, conditional aggregates."""
    ev = load_table(spark, sf, "events")
    bids = ev.select(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        F.col("user_id").alias("bidder"),
        F.round(F.col("value") * 100).cast("long").alias("bid"),
    )
    w = Window.partitionBy("event_type", "day").orderBy(F.desc("bid"), "bidder")
    wc = Window.partitionBy("event_type", "day")
    ranked = bids.select(
        "event_type", "day", "bid",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n"),
    ).where(F.col("rn") <= 2)
    lots = ranked.groupBy("event_type", "day").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == 1, F.col("bid"))).alias("b1"),
        F.max(F.when(F.col("rn") == 2, F.col("bid"))).alias("b2"),
    )
    return lots.where(F.col("n") >= 2).agg(
        F.count(F.lit(1)).cast("long").alias("n_lots"),
        F.sum(F.coalesce(F.col("b2"), F.lit(0))).cast("long").alias("second_price_revenue"),
        F.sum(F.expr("(b1 * (n - 1)) DIV n")).cast("long").alias("shaded_first_price_revenue"),
    )


# ------------------------------------------------------------------ q617
def _q617_oracle() -> str:
    base = _q615_oracle()
    head = base[: base.rindex("SELECT w, f AS firm")]
    return (
        head.rstrip().rstrip(",")
        + """,
    matches AS (SELECT w, f FROM st3 WHERE f IS NOT NULL),
    wcur AS (
        SELECT m.w, rk.s_score AS cur_s FROM matches m
        JOIN rk ON rk.w = m.w AND rk.f = m.f
    ),
    fcur AS (
        SELECT m.f, rk.t_score AS cur_t FROM matches m
        JOIN rk ON rk.w = m.w AND rk.f = m.f
    ),
    blocking AS (
        SELECT rk.w, rk.f
        FROM rk
        LEFT JOIN matches mm ON mm.w = rk.w AND mm.f = rk.f
        LEFT JOIN wcur ON wcur.w = rk.w
        LEFT JOIN fcur ON fcur.f = rk.f
        WHERE mm.w IS NULL
          AND (wcur.w IS NULL OR rk.s_score > wcur.cur_s)
          AND (fcur.f IS NULL OR rk.t_score > fcur.cur_t)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM matches) AS n_matched,
           CAST(count(*) AS BIGINT) AS n_blocking_pairs,
           count(*) = 0 AS stable
    FROM blocking
    """
    )


@query("q617_blocking_pairs", _q617_oracle())
def q617(spark: SparkSession, sf: str) -> DataFrame:
    """Stability audit of q615's 3-round deferred-acceptance outcome:
    a blocking pair is an unmatched (w, f) where BOTH sides prefer
    each other to their current partners (unmatched counts as
    infinitely undesirable) — exact hash-score comparisons; after a
    bounded-round run the count is the distance-to-stability metric
    (full GS drives it to zero)."""
    from .queries import QUERIES

    st = QUERIES["q615_stable_matching"](spark, sf)
    d = load_table(spark, sf, "documents")
    agents = d.select((F.col("doc_id") % 20).alias("a")).distinct()
    wdf = agents.select(F.col("a").alias("w"))
    fdf = agents.select(F.col("a").alias("f"))
    h = lambda c1, sep, c2: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(c1.cast("string"), F.lit(sep), c2.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    # the 400-row score table is joined four times below (matches,
    # wcur, fcur, blocking) — materialize once instead of four
    # documents-scan cross joins
    rk = wdf.crossJoin(fdf).select(
        "w", "f",
        h(F.col("w"), ":", F.col("f")).alias("s_score"),
        h(F.col("f"), ">", F.col("w")).alias("t_score"),
    ).localCheckpoint(eager=True)
    # st fans out to FOUR consumers (matches -> wcur/fcur/blocking/nm);
    # materialize the 20-row match relation once so the GS Arrow task
    # (lazy since r7) doesn't re-run per consumer
    matches = st.where(F.col("matched")).select(
        "w", F.col("firm").alias("f")
    ).localCheckpoint(eager=True)
    wcur = matches.join(rk, ["w", "f"]).select("w", F.col("s_score").alias("cur_s"))
    fcur = matches.join(rk, ["w", "f"]).select("f", F.col("t_score").alias("cur_t"))
    blocking = (
        rk.join(matches.withColumn("mm", F.lit(1)), ["w", "f"], "left")
        .join(wcur, "w", "left")
        .join(fcur, "f", "left")
        .where(
            F.col("mm").isNull()
            & (F.col("cur_s").isNull() | (F.col("s_score") > F.col("cur_s")))
            & (F.col("cur_t").isNull() | (F.col("t_score") > F.col("cur_t")))
        )
    )
    nm = matches.agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    nb = blocking.agg(F.count(F.lit(1)).cast("long").alias("n_blocking_pairs"))
    return nm.crossJoin(nb).select(
        "n_matched", "n_blocking_pairs", (F.col("n_blocking_pairs") == 0).alias("stable")
    )


# ------------------------------------------------------------------ q618
def _q618_oracle() -> str:
    picks = []
    for gap in (300, 1800, 7200):
        picks.append(f"""
    SELECT CAST({gap} AS BIGINT) AS gap_s,
           CAST(sum(CASE WHEN prev IS NULL OR sec - prev > {gap} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g""")
    body = "\nUNION ALL".join(picks)
    return f"""
    WITH g AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
    {body}
    """


@query("q618_session_gap_curve", _q618_oracle())
def q618(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization sensitivity curve: total session counts at 5-min
    / 30-min / 2-h inactivity gaps from ONE lag pass (a session starts
    where the whole-second gap exceeds the threshold) — the relation
    that picks the gap parameter before anyone ships a sessionize
    job."""
    ev = load_table(spark, sf, "events")
    sec = F.floor(F.unix_seconds(F.col("ts"))).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select("user_id", "ts", "event_id", sec.alias("sec")).withColumn(
        "prev", F.lag("sec").over(w)
    )
    outs = []
    for gap in (300, 1800, 7200):
        outs.append(
            g.agg(
                F.sum(
                    F.when(F.col("prev").isNull() | (F.col("sec") - F.col("prev") > gap), 1)
                    .otherwise(0)
                ).cast("long").alias("n_sessions"),
                F.count(F.lit(1)).cast("long").alias("n_events"),
            ).select(F.lit(gap).cast("long").alias("gap_s"), "n_sessions", "n_events")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q619
def _q619_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    h{r} AS MATERIALIZED (
        SELECT u, v, ('0x' || substr(md5(u::VARCHAR || '-' || v::VARCHAR), 1, 15))::BIGINT AS h
        FROM e{r - 1}
    ),
    mu{r} AS MATERIALIZED (
        SELECT node, min(h) AS mh FROM (
            SELECT u AS node, h FROM h{r} UNION ALL SELECT v, h FROM h{r}
        ) GROUP BY 1
    ),
    sel{r} AS MATERIALIZED (
        SELECT t.u, t.v FROM h{r} t
        JOIN mu{r} a ON a.node = t.u AND a.mh = t.h
        JOIN mu{r} b ON b.node = t.v AND b.mh = t.h
    ),
    mn{r} AS MATERIALIZED (SELECT u AS node FROM sel{r} UNION SELECT v FROM sel{r}),
    e{r} AS MATERIALIZED (
        SELECT t.u, t.v FROM e{r - 1} t
        WHERE t.u NOT IN (SELECT node FROM mn{r})
          AND t.v NOT IN (SELECT node FROM mn{r})
    )""")
    body = ",".join(rounds)
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT least(doc_id % 40, (doc_id * 17 + 3) % 40) AS u,
               greatest(doc_id % 40, (doc_id * 17 + 3) % 40) AS v
        FROM documents WHERE doc_id % 40 != (doc_id * 17 + 3) % 40
        UNION
        SELECT DISTINCT doc_id % 40, (doc_id % 40 + 1) % 40 FROM documents
        WHERE doc_id % 40 < (doc_id % 40 + 1) % 40
    ),{body}
    SELECT CAST(1 AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM sel1) AS n_matched,
           (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges_remaining
    UNION ALL SELECT 2, (SELECT count(*) FROM sel2), (SELECT count(*) FROM e2)
    UNION ALL SELECT 3, (SELECT count(*) FROM sel3), (SELECT count(*) FROM e3)
    """


@query("q619_maximal_matching", _q619_oracle())
def q619(spark: SparkSession, sf: str) -> DataFrame:
    """Parallel maximal matching (the 2-approx vertex-cover kernel),
    three hash-symmetry-breaking rounds: an edge joins the matching
    when its portable-md5 id is the MINIMUM among all edges at BOTH
    endpoints (local decision, no coordination — the classic
    distributed symmetry breaker), matched endpoints drop their
    remaining edges, repeat.  Per-round matched/remaining counts;
    the remaining-edge column shows the geometric die-off."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    aff = d.select((k % 40).alias("a"), ((k * 17 + 3) % 40).alias("b")).where(
        F.col("a") != F.col("b")
    ).select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
    ring = d.select((k % 40).alias("u"), ((k % 40 + 1) % 40).alias("v")).where(
        F.col("u") < F.col("v")
    )
    # ≤780 edges on 40 nodes, materialized once; each round is one job
    # that materializes the round's edges, each flagged matched or
    # surviving, and counts both
    e, _ = checkpoint(aff.unionByName(ring).distinct())
    hcol = F.conv(
        F.substring(
            F.md5(F.concat(F.col("u").cast("string"), F.lit("-"), F.col("v").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    stats = []
    for r in (1, 2, 3):
        h = e.select("u", "v", hcol.alias("h"))
        mu = (
            h.select(F.col("u").alias("node"), "h")
            .unionByName(h.select(F.col("v").alias("node"), "h"))
            .groupBy("node")
            .agg(F.min("h").alias("mh"))
        )
        # an edge joins the matching when its hash is the minimum at both
        # endpoints; matched endpoints drop every edge they touch
        hs = (
            h.join(mu.select(F.col("node").alias("u"), F.col("mh").alias("mha")), "u")
            .join(mu.select(F.col("node").alias("v"), F.col("mh").alias("mhb")), "v")
            .select("u", "v", ((F.col("h") == F.col("mha")) & (F.col("h") == F.col("mhb"))).alias("__sel__"))
        )
        sel = hs.where("__sel__")
        mn = sel.select(F.col("u").alias("node")).union(sel.select(F.col("v").alias("node"))).distinct()
        kept = F.col("__du__").isNull() & F.col("__dv__").isNull()
        flagged, m = checkpoint(
            hs.join(mn.select(F.col("node").alias("u"), F.lit(True).alias("__du__")), "u", "left")
            .join(mn.select(F.col("node").alias("v"), F.lit(True).alias("__dv__")), "v", "left")
            .select("u", "v", "__sel__", kept.alias("__kept__")),
            n_matched=F.count_if("__sel__"),
            n_edges_remaining=F.count_if("__kept__"),
        )
        e = flagged.where("__kept__").select("u", "v")
        stats.append((r, m["n_matched"], m["n_edges_remaining"]))
    return spark.createDataFrame(stats, "round bigint, n_matched bigint, n_edges_remaining bigint")


# ------------------------------------------------------------------ q620
def _q620_oracle() -> str:
    from .queries import ORACLES

    return f"""
    WITH gs AS ({ORACLES["q615_stable_matching"]}),
    bp AS ({ORACLES["q617_blocking_pairs"]}),
    mm AS ({ORACLES["q619_maximal_matching"]}),
    pc AS ({ORACLES["q605_percolation"]})
    SELECT 'gale_shapley' AS kernel, 'n_matched' AS metric,
           CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS value
    FROM gs
    UNION ALL
    SELECT 'gale_shapley', 'blocking_pairs', n_blocking_pairs FROM bp
    UNION ALL
    SELECT 'maximal_matching', 'edges_after_round3',
           (SELECT n_edges_remaining FROM mm WHERE round = 3)
    UNION ALL
    SELECT 'maximal_matching', 'total_matched',
           (SELECT CAST(sum(n_matched) AS BIGINT) FROM mm)
    UNION ALL
    SELECT 'percolation', 'largest_cc_drop_ppm',
           ((SELECT largest_cc FROM pc WHERE variant = 'full')
            - (SELECT largest_cc FROM pc WHERE variant = 'hubs_removed')) * 1000000
             // (SELECT largest_cc FROM pc WHERE variant = 'full')
    """


@query("q620_kernels_scorecard", _q620_oracle())
def q620(spark: SparkSession, sf: str) -> DataFrame:
    """QUERY 620 — bounded-round kernel scorecard: convergence metrics
    of the session's distributed algorithms in one relation —
    Gale-Shapley match count and its blocking-pair distance to
    stability (q615/q617), maximal-matching completion (q619), and
    the percolation robustness drop (q605) — every number composed
    from registered pipelines on BOTH sides."""
    from concurrent.futures import ThreadPoolExecutor

    from .queries import QUERIES

    # q617 composes q615 internally and already emits the match count —
    # running q615 again here would pay the 3-round GS loop twice.
    # Materialize bp once (1 row) since it feeds both r1 and r2.
    # The three upstream kernels are independent iterative loops whose
    # per-round jobs are tiny relative to the cluster, so each one
    # serializes the driver on eager checkpoints/counts while the
    # executors idle; submitting them from driver threads overlaps the
    # three loops (Spark's scheduler accepts concurrent jobs per
    # session) without changing any of their results.
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_bp = pool.submit(
            lambda: QUERIES["q617_blocking_pairs"](spark, sf).localCheckpoint(eager=True)
        )
        f_mm = pool.submit(QUERIES["q619_maximal_matching"], spark, sf)
        # 2 rows feeding two filtered consumers (full / hubs_removed)
        f_pc = pool.submit(
            lambda: QUERIES["q605_percolation"](spark, sf).localCheckpoint(eager=True)
        )
        bp, mm, pc = f_bp.result(), f_mm.result(), f_pc.result()
    r1 = bp.select(
        F.lit("gale_shapley").alias("kernel"),
        F.lit("n_matched").alias("metric"),
        F.col("n_matched").alias("value"),
    )
    r2 = bp.select(
        F.lit("gale_shapley").alias("kernel"),
        F.lit("blocking_pairs").alias("metric"),
        F.col("n_blocking_pairs").alias("value"),
    )
    r3 = mm.where(F.col("round") == 3).select(
        F.lit("maximal_matching").alias("kernel"),
        F.lit("edges_after_round3").alias("metric"),
        F.col("n_edges_remaining").alias("value"),
    )
    r4 = mm.agg(F.sum("n_matched").cast("long").alias("value")).select(
        F.lit("maximal_matching").alias("kernel"),
        F.lit("total_matched").alias("metric"), "value",
    )
    full = pc.where(F.col("variant") == "full").select(F.col("largest_cc").alias("fc"))
    cut = pc.where(F.col("variant") == "hubs_removed").select(F.col("largest_cc").alias("cc"))
    # explicit broadcast: both sides are 1-row filters of a
    # localCheckpointed relation, whose stats no longer advertise
    # broadcastability — without the hint this plans a CartesianProduct
    r5 = full.crossJoin(F.broadcast(cut)).select(
        F.lit("percolation").alias("kernel"),
        F.lit("largest_cc_drop_ppm").alias("metric"),
        F.expr("((fc - cc) * 1000000) DIV fc").alias("value"),
    )
    return r1.unionByName(r2).unionByName(r3).unionByName(r4).unionByName(r5)


# ------------------------------------------------------------------ q621
def _q621_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    pri{r} AS MATERIALIZED (
        SELECT node,
               ('0x' || substr(md5(node::VARCHAR || '#{r}'), 1, 15))::BIGINT AS p
        FROM und{r - 1}
    ),
    win{r} AS MATERIALIZED (
        SELECT a.node FROM pri{r} a
        WHERE NOT EXISTS (
            SELECT 1 FROM sym s JOIN pri{r} b ON b.node = s.v
            WHERE s.u = a.node AND (b.p < a.p OR (b.p = a.p AND b.node < a.node))
        )
    ),
    dead{r} AS MATERIALIZED (
        SELECT DISTINCT s.v AS node FROM sym s JOIN win{r} w ON w.node = s.u
    ),
    und{r} AS MATERIALIZED (
        SELECT node FROM und{r - 1}
        WHERE node NOT IN (SELECT node FROM win{r})
          AND node NOT IN (SELECT node FROM dead{r})
    )""")
    body = ",".join(rounds)
    return f"""
    WITH e AS MATERIALIZED ({_Q601_EDGES_SQL}),
    sym AS MATERIALIZED (SELECT u, v FROM e UNION SELECT v, u FROM e),
    und0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),{body}
    SELECT CAST(1 AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM win1) AS n_selected,
           (SELECT CAST(count(*) AS BIGINT) FROM und1) AS n_undecided
    UNION ALL SELECT 2, (SELECT count(*) FROM win2), (SELECT count(*) FROM und2)
    UNION ALL SELECT 3, (SELECT count(*) FROM win3), (SELECT count(*) FROM und3)
    """


@query("q621_luby_mis", _q621_oracle())
def q621(spark: SparkSession, sf: str) -> DataFrame:
    """Luby's maximal-independent-set, three rounds: each undecided
    node draws a fresh portable-md5 priority per round and joins the
    set when it beats EVERY undecided neighbor (tie-broken on id);
    selected nodes kill their neighbors.  The canonical distributed
    symmetry breaker (scheduling, graph coloring seeds) — per-round
    selected/undecided counts show the expected geometric collapse."""
    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    base = d.select((k % 30).alias("a"), ((k * 7 + 2) % 30).alias("b")).where(
        F.col("a") != F.col("b")
    ).unionByName(d.select((k % 30).alias("a"), ((k % 30) + 1) % 30).toDF("a", "b"))
    e = base.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")).distinct()
    sym, _ = checkpoint(e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct())
    und = sym.select(F.col("u").alias("node")).distinct()
    stats = []
    for r in (1, 2, 3):
        if stats and stats[-1][2] == 0:  # nothing undecided: nothing to select
            stats.append((r, 0, 0))
            continue
        # the node relations hold ≤ 30 rows by construction: broadcast,
        # every join is planned statically (AQE's runtime join conversion
        # would make the round's job count depend on which stage ends first)
        pri = F.broadcast(und.select(
            "node",
            F.conv(
                F.substring(F.md5(F.concat(F.col("node").cast("string"), F.lit(f"#{r}"))), 1, 15),
                16, 10,
            ).cast("long").alias("p"),
        ))
        nb = (
            sym.join(pri.withColumnRenamed("node", "u").withColumnRenamed("p", "pu"), "u")
            .join(pri.withColumnRenamed("node", "v").withColumnRenamed("p", "pv"), "v")
        )
        losers = nb.where(
            (F.col("pv") < F.col("pu"))
            | ((F.col("pv") == F.col("pu")) & (F.col("v") < F.col("u")))
        ).select(F.col("u").alias("node")).distinct()
        win = F.broadcast(pri.select("node").join(F.broadcast(losers), "node", "left_anti"))
        dead = F.broadcast(
            sym.join(win.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        # one job per round materializes the undecided nodes, each
        # flagged selected or still undecided, and counts both
        undecided = F.col("__w__").isNull() & F.col("__d__").isNull()
        flagged, m = checkpoint(
            und.join(win.select("node", F.lit(True).alias("__w__")), "node", "left")
            .join(dead.select("node", F.lit(True).alias("__d__")), "node", "left")
            .select("node", F.col("__w__").isNotNull().alias("__w__"), undecided.alias("__u__")),
            n_selected=F.count_if("__w__"),
            n_undecided=F.count_if("__u__"),
        )
        und = flagged.where("__u__").select("node")
        stats.append((r, m["n_selected"], m["n_undecided"]))
    return spark.createDataFrame(stats, "round bigint, n_selected bigint, n_undecided bigint")


# ------------------------------------------------------------------ q622
@query(
    "q622_pacing_audit",
    """
    WITH hourly AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 AS hr,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        FROM events GROUP BY 1, 2, 3
    ),
    daily AS (
        SELECT event_type, day, CAST(sum(spend) AS BIGINT) AS budget FROM hourly
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT h.event_type, h.day, h.hr, d.budget,
               CAST(sum(h.spend) OVER (PARTITION BY h.event_type, h.day ORDER BY h.hr
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_spend
        FROM hourly h JOIN daily d ON d.event_type = h.event_type AND d.day = h.day
    ),
    breach AS (
        SELECT event_type, day,
               min(CASE WHEN 24 * cum_spend > budget * (hr + 1) + budget THEN hr END)
                 AS first_breach_hr
        FROM cum GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN first_breach_hr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS days_overpaced,
           CAST(min(first_breach_hr) AS BIGINT) AS earliest_breach_hr
    FROM breach GROUP BY 1
    """,
)
def q622(spark: SparkSession, sf: str) -> DataFrame:
    """Budget-pacing audit: per (campaign=event_type, day) the first
    hour whose cumulative spend runs more than one hour AHEAD of the
    linear schedule — the overspend test 24·cum > budget·(h+2) is a
    pure integer cross-multiplication on exact cent sums (cumulative
    integer window over the tiny hourly relation).  Days overpaced
    and earliest breach hour per campaign."""
    ev = load_table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        (F.floor(F.unix_seconds(F.col("ts")) / 3600) % 24).cast("long").alias("hr"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("spend"))
    daily = hourly.groupBy("event_type", "day").agg(F.sum("spend").cast("long").alias("budget"))
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hourly.join(daily, ["event_type", "day"]).select(
        "event_type", "day", "hr", "budget",
        F.sum("spend").over(w).cast("long").alias("cum_spend"),
    )
    breach = cum.groupBy("event_type", "day").agg(
        F.min(
            F.when(
                24 * F.col("cum_spend") > F.col("budget") * (F.col("hr") + 1) + F.col("budget"),
                F.col("hr"),
            )
        ).alias("first_breach_hr")
    )
    return breach.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("first_breach_hr").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("days_overpaced"),
        F.min("first_breach_hr").cast("long").alias("earliest_breach_hr"),
    )


# ------------------------------------------------------------------ q623
@query(
    "q623_truncated_dup",
    r"""
    WITH corpus AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 200000,
               substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      1, CAST(greatest(n_chars // 2, 60) AS INT))
        FROM documents WHERE doc_id < 30 AND text IS NOT NULL
    ),
    keyed AS (
        SELECT doc_id, t, length(t) AS len, substr(t, 1, 50) AS k
        FROM corpus WHERE length(t) >= 50
    ),
    cand AS (
        SELECT a.doc_id AS short_id, b.doc_id AS long_id,
               a.len AS short_len, b.len AS long_len
        FROM keyed a JOIN keyed b
          ON a.k = b.k AND a.len < b.len
        WHERE substr(b.t, 1, CAST(a.len AS INT)) = a.t
    )
    SELECT short_id, long_id, short_len, long_len,
           (short_len * 1000000) // long_len AS coverage_ppm
    FROM cand
    """,
)
def q623(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated-duplicate detection (the partial-crawl curation
    hazard): candidates block on the first 50 normalized chars (an
    equi-join — never a substring scan across all pairs), then the
    exact prefix test verifies; planted half-length truncations of 30
    docs guarantee positives, coverage in integer ppm."""
    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    full = d.select("doc_id", norm.alias("t"))
    trunc = d.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "substr(regexp_replace(lower(trim(text)), '\\\\s+', ' '),"
            " 1, CAST(greatest(n_chars DIV 2, 60) AS INT))"
        ).alias("t"),
    )
    corpus = full.unionByName(trunc)
    keyed = corpus.where(F.length("t") >= 50).select(
        "doc_id", "t",
        F.length("t").cast("long").alias("len"),
        F.substring("t", 1, 50).alias("k"),
    )
    a = keyed.select(
        F.col("doc_id").alias("short_id"), F.col("t").alias("ta"),
        F.col("len").alias("short_len"), "k",
    )
    b = keyed.select(
        F.col("doc_id").alias("long_id"), F.col("t").alias("tb"),
        F.col("len").alias("long_len"), F.col("k").alias("kb"),
    )
    cand = (
        a.join(b, (F.col("k") == F.col("kb")) & (F.col("short_len") < F.col("long_len")))
        .where(F.expr("substr(tb, 1, CAST(short_len AS INT)) = ta"))
        .select("short_id", "long_id", "short_len", "long_len")
    )
    return cand.select(
        "*", F.expr("(short_len * 1000000) DIV long_len").alias("coverage_ppm")
    )


# ------------------------------------------------------------------ q624
def _q624_oracle() -> str:
    picks = []
    # events span epoch days 19723-19752; the +25 effect is planted at
    # >= 19743. Placebo tests run ONLY on pre-treatment data.
    for label, day, flt in (
        ("placebo_19733", 19733, "WHERE day < 19743"),
        ("placebo_19738", 19738, "WHERE day < 19743"),
        ("true_19743", 19743, ""),
    ):
        picks.append(f"""
    SELECT '{label}' AS test, CAST({day} AS BIGINT) AS cutover_day,
           CAST(sum(CASE WHEN treat = 1 AND day >= {day} THEN y ELSE 0 END) AS BIGINT) AS s_t1,
           CAST(sum(CASE WHEN treat = 1 AND day >= {day} THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
           CAST(sum(CASE WHEN treat = 1 AND day < {day} THEN y ELSE 0 END) AS BIGINT) AS s_t0,
           CAST(sum(CASE WHEN treat = 1 AND day < {day} THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
           CAST(sum(CASE WHEN treat = 0 AND day >= {day} THEN y ELSE 0 END) AS BIGINT) AS s_c1,
           CAST(sum(CASE WHEN treat = 0 AND day >= {day} THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
           CAST(sum(CASE WHEN treat = 0 AND day < {day} THEN y ELSE 0 END) AS BIGINT) AS s_c0,
           CAST(sum(CASE WHEN treat = 0 AND day < {day} THEN 1 ELSE 0 END) AS BIGINT) AS n_c0
    FROM f {flt}""")
    body = "\nUNION ALL".join(picks)
    return f"""
    WITH f AS (
        SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treat,
               CAST(round(value) AS BIGINT)
                 + CASE WHEN user_id % 2 = 0
                             AND CAST(floor(epoch(ts) / 86400.0) AS BIGINT) >= 19743
                        THEN 25 ELSE 0 END AS y
        FROM events
    ),
    cells AS ({body})
    SELECT test, cutover_day,
           (s_t1 / n_t1 - s_t0 / n_t0) - (s_c1 / n_c1 - s_c0 / n_c0) AS did_estimate
    FROM cells
    """


@query("q624_did_placebo", _q624_oracle())
def q624(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences with PLACEBO cutovers: the 2×2 DiD
    (one fused conditional agg per test date) at the true policy day
    and two PRE-TREATMENT placebo days (placebos see only
    pre-treatment data — a placebo window crossing the real cutover
    would absorb the true effect) — the planted +25 shows only at the
    true date, the robustness check every DiD readout should ship
    with.  All cells exact BIGINTs, estimates one-divide rationals."""
    ev = load_table(spark, sf, "events")
    day = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    treat = (F.col("user_id") % 2 == 0).cast("long")
    y = F.round(F.col("value")).cast("long") + F.when(
        (F.col("user_id") % 2 == 0) & (day >= 19743), 25
    ).otherwise(0)
    f = ev.select(day.alias("day"), treat.alias("treat"), y.alias("y"))
    outs = []
    for label, cd, pre_only in (
        ("placebo_19733", 19733, True),
        ("placebo_19738", 19738, True),
        ("true_19743", 19743, False),
    ):
        base = f.where(F.col("day") < 19743) if pre_only else f
        cells = base.agg(
            *[
                F.sum(
                    F.when((F.col("treat") == t) & cond, F.col("y") if s else 1).otherwise(0)
                ).cast("long").alias(f"{'s' if s else 'n'}_{'t' if t else 'c'}{p}")
                for t in (1, 0)
                for p, cond in ((1, F.col("day") >= cd), (0, F.col("day") < cd))
                for s in (True, False)
            ]
        )
        did = (
            F.col("s_t1") / F.col("n_t1") - F.col("s_t0") / F.col("n_t0")
        ) - (F.col("s_c1") / F.col("n_c1") - F.col("s_c0") / F.col("n_c0"))
        outs.append(
            cells.select(
                F.lit(label).alias("test"),
                F.lit(cd).cast("long").alias("cutover_day"),
                did.alias("did_estimate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q625
@query(
    "q625_training_set_assembly",
    """
    WITH daily AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, day,
           CAST(coalesce(sum(n_view) OVER w_feat, 0) AS BIGINT) AS f_views_7d,
           CAST(coalesce(sum(n_click) OVER w_feat, 0) AS BIGINT) AS f_clicks_7d,
           CAST(coalesce(sum(n_error) OVER w_feat, 0) AS BIGINT) AS f_errors_7d,
           CAST(coalesce(sum(cents) OVER w_feat, 0) AS BIGINT) AS f_spend_7d,
           coalesce(sum(n_buy) OVER w_label, 0) > 0 AS label_buys_next_7d
    FROM daily
    WINDOW w_feat AS (PARTITION BY user_id ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING),
           w_label AS (PARTITION BY user_id ORDER BY day RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)
    """,
)
def q625(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time-correct training-set assembly (the feature-store
    contract): per (user, active day) the trailing-7d behavioral
    features use STRICTLY-BEFORE range frames and the label (purchase
    within the NEXT 7 days) uses strictly-after — leakage-safe by
    window construction, no as-of join needed because features and
    labels come from one daily relation; all counts exact integers."""
    ev = load_table(spark, sf, "events")
    day = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(c)
            for t, c in [("view", "n_view"), ("click", "n_click"),
                         ("error", "n_error"), ("purchase", "n_buy")]
        ],
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
    )
    w_feat = Window.partitionBy("user_id").orderBy("day").rangeBetween(-7, -1)
    w_label = Window.partitionBy("user_id").orderBy("day").rangeBetween(1, 7)
    z = F.lit(0).cast("long")
    return daily.select(
        "user_id", "day",
        F.coalesce(F.sum("n_view").over(w_feat), z).cast("long").alias("f_views_7d"),
        F.coalesce(F.sum("n_click").over(w_feat), z).cast("long").alias("f_clicks_7d"),
        F.coalesce(F.sum("n_error").over(w_feat), z).cast("long").alias("f_errors_7d"),
        F.coalesce(F.sum("cents").over(w_feat), z).cast("long").alias("f_spend_7d"),
        (F.coalesce(F.sum("n_buy").over(w_label), z) > 0).alias("label_buys_next_7d"),
    )


# ------------------------------------------------------------------ q626
def _q626_oracle() -> str:
    from .queries import ORACLES

    base = ORACLES["q549_naive_bayes_lang"]
    picks = []
    for k in (6, 12):
        inner = base.replace("[1:12]", f"[1:{k}]")
        picks.append(
            f"SELECT CAST({k} AS BIGINT) AS k_tokens,\n"
            f"       CAST(count(*) AS BIGINT) AS n_docs,\n"
            f"       CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,\n"
            f"       (CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) * 1000000)\n"
            f"         // count(*) AS accuracy_ppm\n"
            f"FROM ({inner})"
        )
    return "\nUNION ALL\n".join(picks)


@query("q626_nb_hyperparam", _q626_oracle())
def q626(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperparameter comparison as a relation: the Naive Bayes
    classifier (q549) evaluated at scoring-prefix lengths 6 and 12
    tokens side by side, accuracy in exact integer ppm — both sides
    reuse the registered q549 pipeline verbatim with only the prefix
    parameter changed (the grid-search shape without a grid-search
    framework)."""
    from .operators.text import naive_bayes_classify, naive_bayes_train

    d = load_table(spark, sf, "documents")
    train = d.where(F.col("doc_id") % 2 == 0)
    test = d.where(F.col("doc_id") % 2 == 1)
    truth = test.where(F.col("text").isNotNull()).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    # the model is k-independent (k bounds the SCORED prefix only):
    # train once, materialize the two tiny model relations, score at
    # both k — halves the train-side explode+aggs (r7, guide §1.2)
    model = naive_bayes_train(train, "lang", "text", materialize=True)
    outs = []
    for k in (6, 12):
        preds = naive_bayes_classify(
            train, test, "doc_id", "lang", "text", k_tokens=k, model=model
        )
        hit = F.when(F.col("pred_lang") == F.col("true_lang"), 1).otherwise(0)
        outs.append(
            preds.join(truth, "doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(hit).cast("long").alias("n_correct"),
            ).select(
                F.lit(k).cast("long").alias("k_tokens"), "n_docs", "n_correct",
                F.expr("(n_correct * 1000000) DIV n_docs").alias("accuracy_ppm"),
            )
        )
    return outs[0].unionByName(outs[1])


# ------------------------------------------------------------------ q627
def _q627_oracle() -> str:
    from .operators import dedup as _dd

    p = _dd._MERSENNE
    params = _dd._hash_params(32)
    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    cfg_rows = []
    for bands, rpb in ((8, 4), (4, 8)):
        band_terms = " + ".join(
            "(CASE WHEN "
            + " AND ".join(f"sa.mh{b * rpb + r} = sb.mh{b * rpb + r}" for r in range(rpb))
            + " THEN 1 ELSE 0 END)"
            for b in range(bands)
        )
        cfg_rows.append(f"""
    SELECT '{bands}x{rpb}' AS config,
           (SELECT CAST((sum(CASE WHEN cand THEN 1 ELSE 0 END) * 1000000)
                        // greatest(count(*), 1) AS BIGINT)
            FROM (SELECT ({band_terms}) >= 1 AS cand, j.s_jac
                  FROM j JOIN sig sa ON sa.id = j.ia JOIN sig sb ON sb.id = j.ib) x
            WHERE s_jac >= CAST('0.9' AS DOUBLE)) AS recall_ppm,
           (SELECT CAST((sum(CASE WHEN cand THEN 1 ELSE 0 END) * 1000000)
                        // greatest(count(*), 1) AS BIGINT)
            FROM (SELECT ({band_terms}) >= 1 AS cand, j.s_jac
                  FROM j JOIN sig sa ON sa.id = j.ia JOIN sig sb ON sb.id = j.ib) x
            WHERE s_jac < CAST('0.3' AS DOUBLE)) AS false_candidate_ppm""")
    body = "\nUNION ALL".join(cfg_rows)
    return rf"""
    WITH docs AS (
        SELECT doc_id AS id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents WHERE doc_id < 100 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + 100000 AS id,
               regexp_replace(lower(trim(text || ' calibration tail')), '\s+', ' ', 'g') AS t
        FROM documents WHERE doc_id < 50 AND text IS NOT NULL
    ),
    sh AS (
        SELECT id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(t, ' ')) - 2, 1) + 1),
                   i -> array_to_string((string_split(t, ' '))[i:i+2], ' ')))) AS s
        FROM docs
    ),
    hs AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h FROM sh),
    sig AS (SELECT id, {mh_cols} FROM hs GROUP BY id),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT a.id AS ia, b.id AS ib, CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2
    ),
    j AS (
        SELECT ia, ib, n_shared / (za.sz + zb.sz - n_shared) AS s_jac
        FROM inter JOIN sizes za ON za.id = ia JOIN sizes zb ON zb.id = ib
    )
    {body}
    """


@query("q627_lsh_band_sweep", _q627_oracle())
def q627(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding-config sweep over the SAME 32-perm signatures: 8×4
    (high recall, more false candidates) vs 4×8 (stricter) evaluated
    on the q570 planted corpus — recall on jaccard ≥ 0.9 pairs and the
    false-candidate rate on < 0.3 pairs, both exact integer ppm; the
    config table a dedup pipeline consults before committing shuffle
    budget."""
    scored = _q570_signed_pairs(spark, sf).persist()
    outs = []
    for bands, rpb in ((8, 4), (4, 8)):
        band_terms = _band_agreement_sql(bands, rpb)
        cand = scored.select("s_jac", (F.expr(f"({band_terms})") >= 1).alias("cand"))
        hi = cand.where(F.col("s_jac") >= 0.9).agg(
            F.expr(
                "CAST((sum(CASE WHEN cand THEN 1 ELSE 0 END) * 1000000)"
                " DIV greatest(count(*), 1) AS BIGINT)"
            ).alias("recall_ppm")
        )
        lo = cand.where(F.col("s_jac") < 0.3).agg(
            F.expr(
                "CAST((sum(CASE WHEN cand THEN 1 ELSE 0 END) * 1000000)"
                " DIV greatest(count(*), 1) AS BIGINT)"
            ).alias("false_candidate_ppm")
        )
        outs.append(
            hi.crossJoin(lo).select(
                F.lit(f"{bands}x{rpb}").alias("config"), "recall_ppm", "false_candidate_ppm"
            )
        )
    return outs[0].unionByName(outs[1])


# ------------------------------------------------------------------ q628
def _q628_oracle() -> str:
    picks = []
    for p in (6, 8):
        m = 1 << p
        rem = 60 - p
        alpha = repr(0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << 53))
        picks.append(f"""
    SELECT CAST({p} AS BIGINT) AS p, CAST({m} AS BIGINT) AS m, exact_distinct,
           round(CASE WHEN {alpha} / ((s + ({m} - used) * (1::BIGINT << 53)))::DOUBLE
                           <= CAST('2.5' AS DOUBLE) * {m} AND ({m} - used) > 0
                      THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / ({m} - used))
                      ELSE {alpha} / ((s + ({m} - used) * (1::BIGINT << 53)))::DOUBLE
                 END, 6) AS estimate
    FROM (
        SELECT count(*) AS used, sum((1::BIGINT << (53 - rho))) AS s
        FROM (
            SELECT CAST(hv >> {rem} AS INT) AS bucket,
                   max(CAST(CASE WHEN (hv & ((1::BIGINT << {rem}) - 1)) = 0 THEN {rem + 1}
                        ELSE {rem} - length(bin(hv & ((1::BIGINT << {rem}) - 1))) + 1
                   END AS INT)) AS rho
            FROM h GROUP BY 1
        )
    ) CROSS JOIN ex""")
    body = "\nUNION ALL".join(picks)
    return f"""
    WITH h AS (
        SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    ex AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events WHERE user_id IS NOT NULL
    )
    {body}
    """


@query("q628_hll_p_sweep", _q628_oracle())
def q628(spark: SparkSession, sf: str) -> DataFrame:
    """HLL precision sweep: the SAME portable hash stream estimated at
    p=6 (64 registers) and p=8 (256) beside the exact distinct count —
    the register-budget sizing table (4× memory buys ~2× lower
    standard error); integer-harmonic sums, the 2.5m small-range
    switch with m-scaled thresholds (operators/sketch.hll_registers_by
    parameterization)."""
    from .operators.sketch import hll_registers_by

    ev = load_table(spark, sf, "events")
    ex = ev.where(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    outs = []
    for p in (6, 8):
        m = 1 << p
        alpha = 0.7213 / (1.0 + 1.079 / m) * m * m * float(1 << 53)
        regs = hll_registers_by(
            ev.select(F.lit(1).alias("g"), "user_id"), ["g"], "user_id", p=p, hash_kind="md5"
        )
        agg = regs.agg(
            F.count(F.lit(1)).alias("used"),
            F.sum(F.expr("CAST(shiftleft(1L, 53 - rho) AS BIGINT)")).alias("s"),
        )
        raw = F.lit(alpha) / (
            (F.col("s") + (F.lit(m) - F.col("used")) * F.lit(1 << 53)).cast("double")
        )
        v = F.lit(m) - F.col("used")
        est = F.when(
            (raw <= F.lit(2.5) * m) & (v > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v),
        ).otherwise(raw)
        outs.append(
            agg.crossJoin(F.broadcast(ex)).select(
                F.lit(p).cast("long").alias("p"),
                F.lit(m).cast("long").alias("m"),
                "exact_distinct",
                F.round(est, 6).alias("estimate"),
            )
        )
    return outs[0].unionByName(outs[1])


# ------------------------------------------------------------------ q629
@query(
    "q629_bloom_fpr_audit",
    """
    WITH members AS (
        SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS key
        FROM events WHERE event_type = 'purchase'
    ),
    probes AS (
        SELECT DISTINCT 'absent' || CAST(event_id % 5000 AS VARCHAR) AS key FROM events
    ),
    ks(i) AS (VALUES (0), (1), (2)),
    bpos AS (
        SELECT DISTINCT
               (('0x' || substr(md5(key || '|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 8192)
                 AS pos
        FROM members CROSS JOIN ks
    ),
    words AS (
        SELECT pos // 63 AS w, bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM bpos GROUP BY 1
    ),
    stats AS (
        SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS set_bits FROM words
    ),
    ppos AS (
        SELECT key,
               (('0x' || substr(md5(key || '|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 8192)
                 AS pos
        FROM probes CROSS JOIN ks
    ),
    hits AS (
        SELECT key FROM ppos JOIN words ON words.w = ppos.pos // 63
        WHERE ((words.bits >> CAST(pos % 63 AS INT)) & 1) = 1
        GROUP BY key HAVING count(*) = 3
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
           s.set_bits,
           (s.set_bits * 1000000) // 8192 AS density_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
           ((SELECT CAST(count(*) AS BIGINT) FROM hits) * 1000000)
             // (SELECT count(*) FROM probes) AS measured_fp_ppm,
           round((s.set_bits / CAST(8192.0 AS DOUBLE))
                 * (s.set_bits / CAST(8192.0 AS DOUBLE))
                 * (s.set_bits / CAST(8192.0 AS DOUBLE)) * 1000000, 3) AS theory_fp_ppm
    FROM stats s
    """,
)
def q629(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter false-positive audit: an 8192-bit / 3-hash filter
    over purchase users is probed with a DISJOINT key namespace —
    measured FP rate in exact integer ppm beside the density³ theory
    (mirrored double chain); the bit array itself is rebuilt by both
    engines (63-bit word convention), so filter, probes, and theory
    all replay."""
    from .operators.pipeline import _bloom_pos

    m, k = 8192, 3
    ev = load_table(spark, sf, "events")
    members = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("key"))
        .distinct()
    )
    probes = ev.select(
        F.concat(F.lit("absent"), (F.col("event_id") % 5000).cast("string")).alias("key")
    ).distinct()
    entries = F.explode(
        F.array(*[_bloom_pos(F.col("key"), i, m, "md5") for i in range(k)])
    ).alias("pos")
    bpos = members.select(entries).distinct()
    words = bpos.select(
        F.expr("pos DIV 63").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("b"),
    ).groupBy("w").agg(F.bit_or("b").alias("bits"))
    stats = words.agg(F.sum(F.bit_count("bits")).cast("long").alias("set_bits"))
    ppos = probes.select("key", entries)
    hits = (
        ppos.join(words, F.col("w") == F.expr("pos DIV 63"))
        .where(F.expr("((bits >> CAST(pos % 63 AS INT)) & 1) = 1"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") == k)
    )
    nm = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    np_ = probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    d = F.col("set_bits") / F.lit(8192.0)
    return (
        stats.crossJoin(F.broadcast(nm)).crossJoin(F.broadcast(np_)).crossJoin(F.broadcast(nh))
        .select(
            "n_members", "set_bits",
            F.expr("(set_bits * 1000000) DIV 8192").alias("density_ppm"),
            "n_probes",
            F.expr("(n_fp * 1000000) DIV n_probes").alias("measured_fp_ppm"),
            F.round(d * d * d * 1000000, 3).alias("theory_fp_ppm"),
        )
    )


# ------------------------------------------------------------------ q630
def _q630_oracle() -> str:
    from .queries import ORACLES

    return f"""
    WITH lsh AS ({ORACLES["q627_lsh_band_sweep"]}),
    hll AS ({ORACLES["q628_hll_p_sweep"]}),
    bloom AS ({ORACLES["q629_bloom_fpr_audit"]})
    SELECT 'lsh_bands:' || config AS technique, 'recall_ppm' AS metric,
           CAST(recall_ppm AS DOUBLE) AS value
    FROM lsh
    UNION ALL
    SELECT 'hll_p' || CAST(p AS VARCHAR), 'abs_err_ppm',
           round(abs(estimate - exact_distinct) * 1000000 / exact_distinct, 3)
    FROM hll
    UNION ALL
    SELECT 'bloom_8192x3', 'theory_gap_ppm',
           round(abs(measured_fp_ppm - theory_fp_ppm), 3)
    FROM bloom
    """


@query("q630_approximation_board", _q630_oracle())
def q630(spark: SparkSession, sf: str) -> DataFrame:
    """QUERY 630 — the approximation audit board: LSH banding recalls
    (q627), HLL precision errors (q628), and the Bloom measured-vs-
    theory gap (q629) in one relation, every number produced AND
    SQL-replayed by registered pipelines — the one-page answer to
    "which approximation parameters are safe on this corpus"."""
    from .queries import QUERIES

    lsh = QUERIES["q627_lsh_band_sweep"](spark, sf)
    hll = QUERIES["q628_hll_p_sweep"](spark, sf)
    bloom = QUERIES["q629_bloom_fpr_audit"](spark, sf)
    r1 = lsh.select(
        F.concat(F.lit("lsh_bands:"), F.col("config")).alias("technique"),
        F.lit("recall_ppm").alias("metric"),
        F.col("recall_ppm").cast("double").alias("value"),
    )
    r2 = hll.select(
        F.concat(F.lit("hll_p"), F.col("p").cast("string")).alias("technique"),
        F.lit("abs_err_ppm").alias("metric"),
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct")) * 1000000
            / F.col("exact_distinct"),
            3,
        ).alias("value"),
    )
    r3 = bloom.select(
        F.lit("bloom_8192x3").alias("technique"),
        F.lit("theory_gap_ppm").alias("metric"),
        F.round(F.abs(F.col("measured_fp_ppm") - F.col("theory_fp_ppm")), 3).alias("value"),
    )
    return r1.unionByName(r2).unionByName(r3)
