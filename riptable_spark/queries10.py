"""Driver-contract query registry, batch 10 (round 3, second
continuation): fuzzy benchmark decontamination, conditional bigram LM
scoring, DSIR importance reweighting, rolling higher moments.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table


# ------------------------------------------------------------------ q197
def _fuzzy_decon_oracle() -> str:
    """Full SQL replay of decontaminate_fuzzy: md5-hash MinHash
    signatures + banding on BOTH sides, exact-Jaccard verify, anti-join
    of the contaminated ids, per-source audit of the survivors."""
    from .operators import dedup as _dd

    num_perm, bands, rpb, p = 32, 8, 4, _dd._MERSENNE
    params = _dd._hash_params(num_perm)
    mh_cols = ", ".join(f"min((h * {a} + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params))
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rpb + r} = b.mh{b * rpb + r}" for r in range(rpb)) + ")"
        for b in range(bands)
    )
    side = """
    {name}_docs AS (
        SELECT {idexpr} AS id, regexp_replace(lower(trim({textexpr})), '\\s+', ' ', 'g') AS t
        FROM documents WHERE {flt} AND text IS NOT NULL
    ),
    {name}_sh AS (
        SELECT id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(t, ' ')) - 2, 1) + 1),
                   i -> array_to_string((string_split(t, ' '))[i:i+2], ' ')))) AS s
        FROM {name}_docs
    ),
    {name}_hs AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h FROM {name}_sh),
    {name}_sig AS (SELECT id, {mh} FROM {name}_hs GROUP BY id),
    {name}_sets AS (SELECT id, list_distinct(list(s)) AS ss FROM {name}_sh GROUP BY id)
    """
    l = side.format(name="l", idexpr="doc_id", textexpr="text", flt="doc_id < 600", p=p, mh=mh_cols)
    r = side.format(
        name="r", idexpr="doc_id + 500000",
        textexpr="text || ' held out eval item'",
        flt="doc_id % 7 = 3 AND doc_id < 600", p=p, mh=mh_cols,
    )
    return f"""
    WITH {l}, {r},
    cand AS (
        SELECT DISTINCT a.id AS lid, b.id AS rid
        FROM l_sig a JOIN r_sig b ON ({band_conds})
    ),
    contaminated AS (
        SELECT DISTINCT c.lid AS id
        FROM cand c JOIN l_sets ls ON ls.id = c.lid JOIN r_sets rs ON rs.id = c.rid
        WHERE len(list_intersect(ls.ss, rs.ss))::DOUBLE
              / len(list_distinct(list_concat(ls.ss, rs.ss))) >= 0.5
    )
    SELECT source, count(*) AS n_kept, sum(n_chars)::BIGINT AS chars
    FROM documents
    WHERE doc_id < 600 AND doc_id NOT IN (SELECT id FROM contaminated)
    GROUP BY source
    """


@query("q197_decontaminate_fuzzy", _fuzzy_decon_oracle())
def q197(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-dup benchmark decontamination: the eval set is every 7th
    document with an appended tail (a paraphrased-copy stand-in that
    exact-gram decontamination at min_hits ≈ |doc| would miss); the
    corpus rows whose Jaccard vs any eval item reaches 0.5 are dropped.
    The oracle replays the whole pipeline — signatures, banding, verify,
    anti-join — and audits survivors per source.  NULL-text corpus rows
    can never be flagged (no shingles), so they survive in both engines.
    """
    from .operators import pipeline as _pl

    d = load_table(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") < 600)
    bench = (
        corpus.where((F.col("doc_id") % 7 == 3) & F.col("text").isNotNull())
        .select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" held out eval item")).alias("text"),
        )
    )
    clean = _pl.decontaminate_fuzzy(
        corpus, bench, threshold=0.5, num_perm=32, bands=8, shingle_n=3, hash_kind="md5"
    )
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


# ------------------------------------------------------------------ q198
@query(
    "q198_bigram_logprob",
    """
    WITH docs AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(l) - 1, 0) + 1),
                                     i -> l[i] || ' ' || l[i+1])) AS b
        FROM docs
    ),
    ex AS (SELECT doc_id, b, string_split(b, ' ')[1] AS w1 FROM bg),
    c12 AS (SELECT b, count(*) AS c12 FROM ex GROUP BY b),
    c1 AS (SELECT w1, count(*) AS c1 FROM ex GROUP BY w1),
    model AS (SELECT b, c12 FROM c12 WHERE c12 >= 2)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(CASE WHEN m.c12 IS NOT NULL THEN ln(m.c12::DOUBLE / c1.c1)
                          ELSE ln(1.0 / (c1.c1 + 1)) END), 6) AS avg_logprob
    FROM ex LEFT JOIN model m USING (b) JOIN c1 USING (w1)
    GROUP BY doc_id
    """,
)
def q198(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean conditional bigram log-probability under the
    corpus's own bigram model (word-order fluency proxy; rare bigrams
    fall to the ln(1/(c1+1)) floor).  Both bigram and first-token count
    models broadcast; only (doc_id, logp) pairs shuffle.  ln of exact
    integer ratios — never structurally on a rounding boundary."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    out = _tx.bigram_logprob(d, min_count=2)
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_logprob", 6).alias("avg_logprob")
    )


# ------------------------------------------------------------------ q199
_DSIR_B = 512
_DSIR_BUCKET = "('0x' || substr(md5(__t__), 1, 15))::BIGINT % " + str(_DSIR_B)


@query(
    "q199_dsir_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS __t__
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (SELECT doc_id, source, {_DSIR_BUCKET} AS bk FROM toks WHERE length(__t__) > 0),
    tc AS (SELECT bk, count(*) AS ct FROM b WHERE source IN ('src0', 'src1') GROUP BY bk),
    rc AS (SELECT bk, count(*) AS cr FROM b GROUP BY bk),
    tn AS (SELECT sum(ct) AS Nt FROM tc),
    rn AS (SELECT sum(cr) AS Nr FROM rc)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln((coalesce(tc.ct, 0) + 1)::DOUBLE / (tn.Nt + {_DSIR_B}))
                   - ln((rc.cr + 1)::DOUBLE / (rn.Nr + {_DSIR_B}))), 6) AS logratio
    FROM b LEFT JOIN tc USING (bk) LEFT JOIN rc USING (bk) CROSS JOIN tn CROSS JOIN rn
    GROUP BY doc_id
    """,
)
def q199(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights: target model = the src0/src1 slice, raw
    model = the whole corpus; per-doc mean log-likelihood ratio over
    512 hashed unigram buckets (md5-portable so the oracle rebuilds both
    bucket models bit-for-bit).  Raw-side buckets always have counts
    (the scored tokens fit the raw model), target-side misses take the
    add-1 floor."""
    from .operators import pipeline as _pl

    d = load_table(spark, sf, "documents")
    target = d.where(F.col("source").isin("src0", "src1"))
    out = _pl.importance_weights(d, target, n_buckets=_DSIR_B, hash_kind="md5")
    return out.select("doc_id", "n_tokens", F.round("logratio", 6).alias("logratio"))


# ------------------------------------------------------------------ q200
@query(
    "q200_rolling_higher_moments",
    """
    SELECT event_id,
           CASE WHEN n >= 3 AND m2 > 0
                THEN round(sqrt(n * (n - 1)) / (n - 2) * (m3 / (m2 ^ 1.5)), 6) END AS roll_skew,
           CASE WHEN n >= 4 AND m2 > 0
                THEN round(((n + 1) * (m4 / (m2 * m2)) - 3 * (n - 1)) * (n - 1)
                           / ((n - 2) * (n - 3)), 6) END AS roll_kurt
    FROM (
        SELECT event_id, n, s2 / n - mu * mu AS m2,
               s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
               s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu AS m4
        FROM (
            SELECT event_id, n, s1 / n AS mu, s2, s3, s4
            FROM (
                SELECT event_id, count(xi) OVER w::DOUBLE AS n,
                       (sum(xi) OVER w)::DOUBLE AS s1,
                       (sum(xi * xi) OVER w)::DOUBLE AS s2,
                       (sum(xi * xi * xi) OVER w)::DOUBLE AS s3,
                       (sum(xi::HUGEINT * xi * xi * xi) OVER w)::DOUBLE AS s4
                FROM (SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS xi
                      FROM events)
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            )
        )
    )
    """,
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling skewness and excess kurtosis over a trailing 20-row
    window — q178's integer-scaling discipline (2dp data × 100 → exact
    BIGINT power sums in both engines; the composed double arithmetic
    mirrors the SQL term-for-term so divisions happen in the same
    order).  One window pass, whole-stage codegen, no second
    centered-moment scan."""
    from pyspark.sql import Window as W

    from .operators import window as _w

    ev = load_table(spark, sf, "events").withColumn("t_us", F.unix_micros("ts"))
    ev = ev.withColumn("xi", F.round(F.col("value") * 100).cast("bigint"))
    w = W.partitionBy("user_id").orderBy("t_us", "event_id")
    return ev.select(
        "event_id",
        F.round(_w.rolling_skew(F.col("xi"), w, 20), 6).alias("roll_skew"),
        F.round(_w.rolling_kurt(F.col("xi"), w, 20), 6).alias("roll_kurt"),
    )


# ------------------------------------------------------------------ q201
@query(
    "q201_audio_features",
    """
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 + (doc_id % 4) * 2000 AS INT) AS sample_rate,
           CAST(2 * (8 + doc_id % 9) AS INT) AS n_samples,
           CAST(len(list_filter(range(0, 2 * (8 + doc_id % 9) - 1),
                k -> (((doc_id * 37 + k * 23) % 65536 - 32768 >= 0))
                     != (((doc_id * 37 + (k + 1) * 23) % 65536 - 32768 >= 0)))) AS INT)
               AS zero_crossings,
           list_sum(list_transform(range(0, 2 * (8 + doc_id % 9)),
                k -> ((doc_id * 37 + k * 23) % 65536 - 32768)
                     * ((doc_id * 37 + k * 23) % 65536 - 32768)))::BIGINT AS energy_scaled,
           list_max(list_transform(range(0, 2 * (8 + doc_id % 9)),
                k -> abs((doc_id * 37 + k * 23) % 65536 - 32768)))::BIGINT AS peak_scaled
    FROM documents
    """,
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact audio features over REAL decoded PCM: formula-valued
    s16le samples round-trip through encode_wav → RIFF chunk walk →
    normalized doubles → re-scaled ints, and zero-crossing count /
    Σk² energy / peak |k| are pure integer arithmetic the oracle
    predicts from the same formula — the whole decode path is
    hash-checked, with no float-tie surface at any sf."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .operators import multimodal as mm

    base_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 2 * (8 + i % 9)
                k = np.arange(n, dtype=np.int64)
                s = ((i * 37 + k * 23) % 65536 - 32768).astype("<i2")
                payloads.append(
                    mm.encode_wav(s, channels=1 + i % 2, sample_rate=8000 + (i % 4) * 2000)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    d = load_table(spark, sf, "documents").select("doc_id").mapInPandas(synth, schema=base_schema)
    return mm.audio_features(d, "payload").select(
        "doc_id", "channels", "sample_rate", "n_samples",
        "zero_crossings", "energy_scaled", "peak_scaled",
    )


# ------------------------------------------------------------------ q202
@query(
    "q202_target_encode",
    """
    WITH t AS (
        SELECT o_orderkey, o_custkey % 101 AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ),
    pk AS (SELECT k, count(y) AS n, sum(y)::HUGEINT AS s FROM t GROUP BY k),
    g AS (SELECT sum(y)::HUGEINT AS gs, count(y)::HUGEINT AS gn FROM t)
    SELECT o_orderkey,
           (s * gn + 20 * gs)::DOUBLE / (gn * (n + 20))::DOUBLE AS te,
           ((s - y) * gn + 20 * gs)::DOUBLE / (gn * (n - 1 + 20))::DOUBLE AS te_loo
    FROM t JOIN pk USING (k) CROSS JOIN g
    """,
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    """Smoothed + leave-one-out target encoding of a categorical key
    against an INTEGER-scaled target (2dp price × 100) in exact-ratio
    mode: numerator and denominator are pure integers on both engines
    and the single division is the only float op — no round() at all.
    (The float-prior form straddled a 6dp rounding step on 6 of 15000
    rows — DuckDB's multiply-then-round vs Spark's decimal rounding.)
    Per-key stats broadcast back — the fact table never shuffles."""
    from .operators import groupby as _gb

    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 101).alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    te = _gb.target_encode(o, "k", "y", smoothing=20, out_col="te", exact=True)
    both = _gb.target_encode(te, "k", "y", smoothing=20, loo=True, out_col="te_loo", exact=True)
    return both.select("o_orderkey", "te", "te_loo")


# ------------------------------------------------------------------ q203
@query(
    "q203_acf",
    """
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS tu, event_id,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events
    ),
    l AS (
        SELECT user_id, x,
               lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2, lag(x, 3) OVER w AS y3
        FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
    ),
    s AS (
        SELECT user_id, 1 AS lag, x, y1 AS y FROM l WHERE y1 IS NOT NULL
        UNION ALL
        SELECT user_id, 2 AS lag, x, y2 AS y FROM l WHERE y2 IS NOT NULL
        UNION ALL
        SELECT user_id, 3 AS lag, x, y3 AS y FROM l WHERE y3 IS NOT NULL
    ),
    agg AS (
        SELECT user_id, lag, count(*) AS n_pairs,
               (sum(x))::DOUBLE AS sx, (sum(y))::DOUBLE AS sy,
               (sum(x * y))::DOUBLE AS sxy,
               (sum(x * x))::DOUBLE AS sxx, (sum(y * y))::DOUBLE AS syy
        FROM s GROUP BY user_id, lag
    )
    SELECT user_id, CAST(lag AS INT) AS lag, n_pairs,
           round(CASE WHEN (sxx - sx * sx / n_pairs::DOUBLE) > 0
                       AND (syy - sy * sy / n_pairs::DOUBLE) > 0
                      THEN (sxy - sx * sy / n_pairs::DOUBLE)
                           / sqrt((sxx - sx * sx / n_pairs::DOUBLE)
                                  * (syy - sy * sy / n_pairs::DOUBLE)) END, 6) AS acf
    FROM agg
    """,
)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user autocorrelation at lags 1-3 over integer-scaled event
    values: one sort-shuffle computes every lag column, the (key, lag)
    power sums stack into a single aggregation, and Pearson assembles
    from EXACT sums cast to double in both engines — q178's portability
    discipline applied to the ACF."""
    from .operators import window as _w

    ev = (
        load_table(spark, sf, "events")
        .withColumn("t_us", F.unix_micros("ts"))
        .withColumn("x", F.round(F.col("value") * 100).cast("bigint"))
    )
    out = _w.acf(ev, "user_id", ["t_us", "event_id"], "x", lags=3)
    return out.select(
        "user_id", F.col("lag").cast("int").alias("lag"), "n_pairs",
        F.round("acf", 6).alias("acf"),
    )


# ------------------------------------------------------------------ q204
@query(
    "q204_group_entropy",
    """
    WITH c AS (
        SELECT source, lang, count(*) AS c FROM documents
        WHERE lang IS NOT NULL GROUP BY source, lang
    ),
    a AS (
        SELECT source, sum(c)::BIGINT AS n, count(*) AS n_values,
               sum(c::DOUBLE * ln(c::DOUBLE)) AS clc, sum(c * c)::BIGINT AS c2
        FROM c GROUP BY source
    )
    SELECT source, n AS n_rows, n_values,
           round(ln(n::DOUBLE) - clc / n, 6) AS entropy,
           c2::DOUBLE / (n * n)::DOUBLE AS hhi
    FROM a
    """,
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Shannon entropy + Herfindahl concentration of the
    language distribution — slice-diversity audit.  Entropy assembles
    from ln of exact integer counts (rounded 6dp for the one
    order-dependent double sum); HHI is an exact integer ratio emitted
    UNROUNDED."""
    from .functions import stats as _st

    d = load_table(spark, sf, "documents")
    out = _st.group_entropy(d, "source", "lang")
    return out.select(
        "source", "n_rows", "n_values", F.round("entropy", 6).alias("entropy"), "hhi"
    )


# ------------------------------------------------------------------ q205
@query(
    "q205_mutual_info",
    """
    WITH t AS (
        SELECT event_type AS a, user_id % 50 AS b FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ),
    pair AS (SELECT a, b, count(*) AS cab FROM t GROUP BY a, b),
    ma AS (SELECT a, sum(cab)::BIGINT AS ca FROM pair GROUP BY a),
    mb AS (SELECT b, sum(cab)::BIGINT AS cb FROM pair GROUP BY b),
    tot AS (SELECT sum(cab)::BIGINT AS tn FROM pair),
    agg AS (
        SELECT sum((cab::DOUBLE / tn::DOUBLE) * ln(tn::DOUBLE * cab::DOUBLE / (ca::DOUBLE * cb::DOUBLE))) AS mi,
               sum((cab::DOUBLE / tn::DOUBLE) * ln(tn::DOUBLE / ca::DOUBLE)) AS h_a,
               sum((cab::DOUBLE / tn::DOUBLE) * ln(tn::DOUBLE / cb::DOUBLE)) AS h_b
        FROM pair JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
    )
    SELECT round(mi, 6) AS mi, round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
           round(CASE WHEN least(h_a, h_b) > 0 THEN mi / least(h_a, h_b) ELSE 0.0 END, 6) AS nmi
    FROM agg
    """,
)
def q205(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information between event type and a user bucket: one
    shuffle to the contingency counts, marginals reduce from that tiny
    relation and broadcast back; MI/H terms are ln of exact integer
    ratios."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("a"), (F.col("user_id") % 50).alias("b"))
    )
    out = _st.mutual_info(ev, "a", "b")
    return out.select(
        F.round("mi", 6).alias("mi"), F.round("h_a", 6).alias("h_a"),
        F.round("h_b", 6).alias("h_b"), F.round("nmi", 6).alias("nmi"),
    )


# ------------------------------------------------------------------ q206
@query(
    "q206_psi_drift",
    """
    WITH bins AS (SELECT unnest(range(0, 10)) AS bin),
    ha AS (
        SELECT greatest(0, least(9, floor((value - 0.0) / 200.0 * 10)))::INT AS bin, count(*) AS c
        FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
    ),
    hb AS (
        SELECT greatest(0, least(9, floor((value - 0.0) / 200.0 * 10)))::INT AS bin, count(*) AS cb
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
    ),
    ta AS (SELECT sum(c)::BIGINT AS na FROM ha),
    tb AS (SELECT sum(cb)::BIGINT AS nb FROM hb)
    SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi FROM (
        SELECT (coalesce(ha.c, 0) + 1)::DOUBLE / (na + 10) AS pa,
               (coalesce(hb.cb, 0) + 1)::DOUBLE / (nb + 10) AS pb
        FROM bins LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)
        CROSS JOIN ta CROSS JOIN tb
    )
    """,
)
def q206(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index between click and purchase value
    distributions over a fixed 10-bin grid — Laplace-smoothed masses
    (c+1)/(N+bins) keep empty bins defined with exact-integer-ratio ln
    inputs.  Each side reduces to ≤10 rows before the join."""
    from .functions import stats as _st

    ev = load_table(spark, sf, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "purchase")
    out = _st.psi(a, b, "value", bins=10, lo=0.0, hi=200.0)
    return out.select(F.round("psi", 6).alias("psi"))


# ------------------------------------------------------------------ q207
@query(
    "q207_corpus_overlap",
    """
    WITH docs AS (
        SELECT source AS g, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
        SELECT g, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(t, ' ')) - 2, 1) + 1),
                   i -> array_to_string((string_split(t, ' '))[i:i+2], ' ')))) AS s
        FROM docs
    ),
    grams AS (SELECT DISTINCT g, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
    pg AS (SELECT g, count(*) AS n FROM grams GROUP BY g),
    shared AS (
        SELECT a.g AS group_a, b.g AS group_b, count(*) AS shared_grams
        FROM grams a JOIN grams b ON a.h = b.h AND a.g < b.g
        GROUP BY a.g, b.g
    )
    SELECT group_a, group_b, shared_grams, na.n AS n_a, nb.n AS n_b,
           shared_grams::DOUBLE / (na.n + nb.n - shared_grams) AS jaccard
    FROM shared JOIN pg na ON na.g = group_a JOIN pg nb ON nb.g = group_b
    """,
)
def q207(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source n-gram overlap matrix: which ingests share content,
    BEFORE paying for document-level dedup between them.  The corpus
    reduces to distinct (gram-hash, source) pairs (8-byte md5-portable
    hashes) ahead of the gram-keyed self-join; Jaccard is an exact
    integer ratio, unrounded."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    return _tx.corpus_overlap(d, "source", "text", shingle_n=3, hash_kind="md5")


# ------------------------------------------------------------------ q208
@query(
    "q208_robust_stats",
    """
    WITH t AS (
        SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    med AS (SELECT k, median(x) AS med FROM t GROUP BY k),
    dev AS (SELECT t.k, med.med, abs(t.x - med.med) AS ad FROM t JOIN med USING (k)),
    mad AS (SELECT k, min(med) AS median, median(ad) AS mad FROM dev GROUP BY k),
    outl AS (
        SELECT dev.k, count(*) AS n_outliers
        FROM dev JOIN mad USING (k)
        WHERE dev.ad * 4 > 3.0 * (mad.mad * 4)
        GROUP BY dev.k
    )
    SELECT mad.k AS event_type, mad.median, mad.mad,
           coalesce(outl.n_outliers, 0)::BIGINT AS n_outliers
    FROM mad LEFT JOIN outl ON outl.k = mad.k
    """,
)
def q208(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type robust location/scale (exact median, MAD) + |x−med| >
    3·MAD outlier counts on the integer-scaled value — medians of
    integers are integers or exact halves, so every output is an
    exactly-representable double, unrounded; the outlier comparison
    is exact 4×-scaled arithmetic."""
    from .operators import groupby as _gb

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("x"))
    )
    return _gb.robust_stats(ev, "event_type", "x", k=3.0)


# ------------------------------------------------------------------ q209
@query(
    "q209_weighted_stats",
    """
    WITH t AS (
        SELECT l_returnflag, l_linestatus,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    agg AS (
        SELECT l_returnflag, l_linestatus,
               (sum(w))::DOUBLE AS sw, (sum(w * x))::DOUBLE AS swx,
               (sum(x::HUGEINT * x * w))::DOUBLE AS swxx
        FROM t GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sw AS w_total,
           swx / sw AS w_mean,
           CASE WHEN sw > 0 THEN (swxx - swx * swx / sw) / sw END AS w_var
    FROM agg
    """,
)
def q209(spark: SparkSession, sf: str) -> DataFrame:
    """Value-weighted mean and frequency-weight variance of the order
    quantity per (returnflag, linestatus), weights = integer-scaled
    extended price: every power sum stays under 2^53 so the
    decimal/HUGEINT totals convert to EXACT doubles in both engines —
    unrounded output.  (The transposed form — price weighted by
    quantity — pushes Σwx² past 2^53, where DuckDB's HUGEINT→double
    and the JVM's Decimal→double round the same integer DIFFERENTLY by
    one ulp; keep weighted power sums inside the double-exact range or
    round the output.)"""
    from .operators import groupby as _gb

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    return _gb.weighted_stats(li, ["l_returnflag", "l_linestatus"], "x", "w")


# ------------------------------------------------------------------ q210
@query(
    "q210_hits",
    """
    WITH base AS (
        SELECT doc_id % 50 AS src, (doc_id * 11 + 5) % 50 AS dst FROM documents
        WHERE doc_id % 50 != (doc_id * 11 + 5) % 50
    ),
    edges AS (SELECT DISTINCT src, dst FROM base),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    h0 AS (SELECT node, 1.0 AS hub FROM nodes),
    a1r AS (SELECT e.dst AS node, sum(h0.hub) AS a FROM edges e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
    a1t AS (SELECT sum(a) AS t FROM a1r),
    a1 AS (SELECT nodes.node, coalesce(a1r.a, 0.0) / a1t.t AS authority
           FROM nodes LEFT JOIN a1r USING (node) CROSS JOIN a1t),
    h1r AS (SELECT e.src AS node, sum(a1.authority) AS h FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
    h1t AS (SELECT sum(h) AS t FROM h1r),
    h1 AS (SELECT nodes.node, coalesce(h1r.h, 0.0) / h1t.t AS hub
           FROM nodes LEFT JOIN h1r USING (node) CROSS JOIN h1t),
    a2r AS (SELECT e.dst AS node, sum(h1.hub) AS a FROM edges e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
    a2t AS (SELECT sum(a) AS t FROM a2r),
    a2 AS (SELECT nodes.node, coalesce(a2r.a, 0.0) / a2t.t AS authority
           FROM nodes LEFT JOIN a2r USING (node) CROSS JOIN a2t),
    h2r AS (SELECT e.src AS node, sum(a2.authority) AS h FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
    h2t AS (SELECT sum(h) AS t FROM h2r),
    h2 AS (SELECT nodes.node, coalesce(h2r.h, 0.0) / h2t.t AS hub
           FROM nodes LEFT JOIN h2r USING (node) CROSS JOIN h2t)
    SELECT nodes.node, round(h2.hub, 9) AS hub, round(a2.authority, 9) AS authority
    FROM nodes JOIN h2 ON h2.node = nodes.node JOIN a2 ON a2.node = nodes.node
    """,
)
def q210(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs/authorities on a synthetic 50-node link graph — two
    full iterations (a1, h1, a2, h2 with L1 normalization after each
    half-step) replayed exactly by the oracle's CTE chain, the same
    join + opposite-endpoint aggregation shape as pagerank."""
    from .operators import graph

    d = load_table(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 50).alias("src"), ((F.col("doc_id") * 11 + 5) % 50).alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    out = graph.hits(edges, n_iter=2)
    return out.select("node", F.round("hub", 9).alias("hub"), F.round("authority", 9).alias("authority"))


# ------------------------------------------------------------------ q211
@query(
    "q211_centroid_similarity",
    """
    WITH e AS (
        SELECT label AS g,
               unnest(list_transform(range(1, len(embedding) + 1),
                                     i -> {'d': i, 'v': embedding[i]::DOUBLE})) AS s
        FROM embeddings WHERE label IS NOT NULL
    ),
    ex AS (SELECT g, s.d AS d, CAST(round(s.v * 1000000) AS BIGINT) AS xi FROM e),
    comp AS (SELECT g, d, sum(xi) AS sv, count(*) AS n FROM ex GROUP BY g, d),
    c AS (
        SELECT g, max(n)::BIGINT AS n_vecs,
               list(sv::DOUBLE / (n * 1000000)::DOUBLE ORDER BY d) AS cent
        FROM comp GROUP BY g
    )
    SELECT a.g AS group_a, b.g AS group_b,
           round(list_cosine_similarity(a.cent, b.cent), 6) AS cos_sim
    FROM c a JOIN c b ON a.g < b.g
    """,
)
def q211(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-slice semantic drift: per-label embedding centroids from
    EXACT integer-scaled per-dim sums (order-independent in any
    aggregation tree), then pairwise cosine over the tiny centroid
    relation.  The corpus shuffles once, keyed (label, dim), as longs."""
    from .operators import similarity as _s

    emb = load_table(spark, sf, "embeddings").where(F.col("label").isNotNull())
    cents = _s.group_centroids(emb, "label", "embedding", scale=1_000_000)
    out = _s.centroid_similarity(cents, "label")
    return out.select(
        F.col("group_a"), F.col("group_b"), F.round("cos_sim", 6).alias("cos_sim")
    )


# ------------------------------------------------------------------ q212
@query(
    "q212_daily_percentiles",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(value) AS n,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def q212(spark: SparkSession, sf: str) -> DataFrame:
    """Daily P50/P95/P99 latency-style bands over the event stream —
    the ops-dashboard staple: one hash-agg on the day key with the
    multi-q exact percentile aggregate (value→count map rides map-side
    combine; day cardinality is tiny)."""
    ev = load_table(spark, sf, "events").where(F.col("value").isNotNull())
    out = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("value").alias("n"),
        F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("__p__"),
    )
    return out.select(
        "day", "n",
        F.round(F.col("__p__")[0], 6).alias("p50"),
        F.round(F.col("__p__")[1], 6).alias("p95"),
        F.round(F.col("__p__")[2], 6).alias("p99"),
    )


# ------------------------------------------------------------------ q213
@query(
    "q213_curriculum_order",
    """
    WITH cuts AS (
        SELECT [quantile_cont(n_chars, 0.25), quantile_cont(n_chars, 0.5),
                quantile_cont(n_chars, 0.75)] AS cs
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(cs, c -> n_chars > c)) AS INT) AS stage,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1073741824 AS draw
    FROM documents CROSS JOIN cuts
    """,
)
def q213(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum ordering: difficulty stages from exact quartile
    cutpoints of n_chars (one aggregate, broadcast back — no ntile
    global sort) + a deterministic md5 within-stage shuffle draw; the
    loader sorts by (stage, draw, id)."""
    from .operators import pipeline as _pl

    d = load_table(spark, sf, "documents")
    out = _pl.curriculum_order(d, "n_chars", "doc_id", n_stages=4, hash_kind="md5")
    return out.select("doc_id", F.col("stage").cast("int").alias("stage"), "draw")


# ------------------------------------------------------------------ q214
@query(
    "q214_gram_matrix",
    """
    WITH x AS (
        SELECT list_transform(embedding, v -> CAST(round(v::DOUBLE * 1000000) AS BIGINT)) AS xs
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    e1 AS (
        SELECT xs, unnest(list_transform(range(1, len(xs) + 1),
                                         i -> {'i': i - 1, 'vi': xs[i]})) AS a
        FROM x
    ),
    e2 AS (
        SELECT a.i AS i, a.vi AS vi,
               unnest(list_transform(range(1, len(xs) + 1),
                                     j -> {'j': j - 1, 'vj': xs[j]})) AS b
        FROM e1
    ),
    pr AS (SELECT i, vi, b.j AS j, b.vj AS vj FROM e2 WHERE b.j >= i)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           (sum(vi::HUGEINT * vj))::VARCHAR AS g, count(*) AS n
    FROM pr GROUP BY i, j
    """,
)
def q214(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed exact Gram matrix XᵀX of the embedding corpus:
    integer-scaled products summed in DECIMAL(38)/HUGEINT (totals exceed
    2^53, so the hash compare runs on the decimal STRING, not a lossy
    double — the q209 lesson).  Upper triangle only; the d² fan-out is
    per-row, the aggregate output is d(d+1)/2 rows."""
    from .operators import similarity as _s

    emb = load_table(spark, sf, "embeddings")
    g = _s.gram_matrix(emb, "embedding", scale=1_000_000)
    return g.select(
        F.col("i").cast("int").alias("i"), F.col("j").cast("int").alias("j"),
        F.col("g").cast("string").alias("g"), "n",
    )


# ------------------------------------------------------------------ q215
@query(
    "q215_transition_matrix",
    """
    WITH t AS (
        SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
        FROM events WHERE event_type IS NOT NULL
    ),
    l AS (
        SELECT event_type AS to_state,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS from_state
        FROM t
    ),
    c AS (SELECT from_state, to_state, count(*) AS n FROM l
          WHERE from_state IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_state, sum(n)::BIGINT AS t FROM c GROUP BY 1)
    SELECT c.from_state, c.to_state, c.n, c.n::DOUBLE / tot.t::DOUBLE AS p
    FROM c JOIN tot USING (from_state)
    """,
)
def q215(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event-type
    sequences: one sort-shuffle for the lag, a tiny (from, to) count
    aggregate, exact-integer-ratio probabilities unrounded."""
    from .operators import window as _w

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull())
        .withColumn("t_us", F.unix_micros("ts"))
    )
    return _w.transition_matrix(ev, "user_id", ["t_us", "event_id"], "event_type")


# ------------------------------------------------------------------ q216
@query(
    "q216_cusum_changepoint",
    """
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS tu, event_id,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    m AS (SELECT user_id, (sum(x))::DOUBLE / (count(x))::DOUBLE AS mu FROM t GROUP BY user_id),
    c AS (
        SELECT t.user_id,
               row_number() OVER w AS pos,
               abs((sum(t.x) OVER (PARTITION BY t.user_id ORDER BY tu, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
                   - row_number() OVER w * m.mu) AS ac
        FROM t JOIN m USING (user_id)
        WINDOW w AS (PARTITION BY t.user_id ORDER BY tu, event_id)
    ),
    r AS (
        SELECT user_id, pos, ac,
               row_number() OVER (PARTITION BY user_id ORDER BY ac DESC, pos) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM c
    )
    SELECT user_id, n, round(ac, 6) AS max_abs_cusum, CAST(pos AS INT) AS cp_pos
    FROM r WHERE rn = 1
    """,
)
def q216(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user CUSUM change-point scan on the integer-scaled value
    series: CUSUM_k = (exact integer prefix sum) − k·μ — order-free
    integer window sums sidestep the engines' different float window
    accumulation trees; argmax tie-breaks on position."""
    from .operators import window as _w

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .withColumn("t_us", F.unix_micros("ts"))
        .withColumn("x", F.round(F.col("value") * 100).cast("bigint"))
    )
    out = _w.cusum_changepoint(ev, "user_id", ["t_us", "event_id"], "x")
    return out.select(
        "user_id", "n", F.round("max_abs_cusum", 6).alias("max_abs_cusum"),
        F.col("cp_pos").cast("int").alias("cp_pos"),
    )


# ------------------------------------------------------------------ q217
@query(
    "q217_json_extract",
    """
    SELECT event_type,
           count(json_extract_string(props, '$.k')::BIGINT) AS n_with_k,
           sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
           max(json_extract_string(props, '$.k')::BIGINT) AS max_k
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def q217(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: pull the integer field out of the
    JSON props column (codegen'd Jackson path eval — no UDF) and
    aggregate per event type; missing/invalid JSON yields NULLs that
    the aggregates skip identically in both engines."""
    from .functions.strings import json_long

    ev = load_table(spark, sf, "events").where(F.col("event_type").isNotNull())
    k = json_long(F.col("props"), "k")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ------------------------------------------------------------------ q218
@query(
    "q218_last_touch_attribution",
    """
    WITH t AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS tu
        FROM events WHERE event_type IS NOT NULL
    ),
    b AS (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tu, event_id) AS pos
        FROM t
    ),
    m AS (
        SELECT *, max(CASE WHEN event_type IN ('click', 'view') THEN pos END)
                  OVER (PARTITION BY user_id ORDER BY tu, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tpos
        FROM b
    ),
    conv AS (SELECT event_id AS conversion_id, user_id, tpos FROM m WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, pos AS tpos, event_id AS touch_id, event_type AS touch_type
              FROM b WHERE event_type IN ('click', 'view'))
    SELECT c.conversion_id, c.user_id, t2.touch_id, t2.touch_type
    FROM conv c LEFT JOIN touch t2 USING (user_id, tpos)
    """,
)
def q218(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase credits the
    most recent preceding click/view in the user timeline — a running
    MAX of the touch position (order-free integer window aggregate; no
    engine-divergent IGNORE-NULLS last_value), then a position join to
    recover the touch row."""
    from .operators import window as _w

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull())
        .withColumn("t_us", F.unix_micros("ts"))
    )
    return _w.attribute_last_touch(
        ev, "user_id", ["t_us", "event_id"], "event_type",
        touch_types=["click", "view"], conversion_types=["purchase"],
    )


# ------------------------------------------------------------------ q219
@query(
    "q219_hashed_features",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    b AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS bk
        FROM toks WHERE length(t) > 0
    ),
    c AS (SELECT doc_id, bk, count(*) AS c FROM b GROUP BY doc_id, bk),
    d AS (SELECT doc_id, list(bk ORDER BY bk) AS ks, list(c ORDER BY bk) AS vs
          FROM c GROUP BY doc_id)
    SELECT doc_id,
           list_transform(range(0, 64), i -> coalesce(vs[list_position(ks, i)], 0)::BIGINT) AS features
    FROM d
    """,
)
def q219(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick featurizer: 64-bucket token-count vectors (dense
    array, empty buckets 0) — vocabulary-free, merge-free across
    shards; md5-portable buckets let the oracle rebuild every vector
    exactly."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    out = _tx.featurize_hashed(d, n_features=64, hash_kind="md5")
    return out.select(
        "doc_id", F.transform("features", lambda x: x.cast("long")).alias("features")
    )


# ------------------------------------------------------------------ q220
@query(
    "q220_seasonal_zscore",
    """
    WITH t AS (
        SELECT event_id, extract(hour FROM ts) AS h,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    p AS (
        SELECT h, count(x) AS n, (sum(x))::DOUBLE AS sx,
               (sum(x::HUGEINT * x))::DOUBLE AS sxx
        FROM t GROUP BY h
    )
    SELECT event_id,
           round(CASE WHEN n >= 2 AND (sxx - sx * sx / n::DOUBLE) / (n::DOUBLE - 1) > 0
                      THEN (x - sx / n::DOUBLE)
                           / sqrt((sxx - sx * sx / n::DOUBLE) / (n::DOUBLE - 1)) END, 6) AS z
    FROM t JOIN p USING (h)
    """,
)
def q220(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonality-adjusted anomaly score: each event's value against
    its own hour-of-day baseline (exact integer power sums broadcast
    back — the quiet-hour spike detector a global z hides)."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id", F.hour("ts").alias("h"),
            F.round(F.col("value") * 100).cast("bigint").alias("x"),
        )
    )
    out = _st.seasonal_zscore(ev, "h", "x", out_col="z")
    return out.select("event_id", F.round("z", 6).alias("z"))


# ------------------------------------------------------------------ q221
@query(
    "q221_rrf_fusion",
    """
    WITH r1 AS (
        SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        FROM documents QUALIFY rank <= 20
    ),
    r2 AS (
        SELECT doc_id, row_number() OVER (ORDER BY (doc_id * 37) % 101, doc_id) AS rank
        FROM documents QUALIFY rank <= 20
    ),
    f AS (
        SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
               coalesce(1.0 / (60.0 + r1.rank), 0.0) + coalesce(1.0 / (60.0 + r2.rank), 0.0) AS rrf_score
        FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
    )
    SELECT doc_id, round(rrf_score, 9) AS rrf_score,
           row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
    FROM f
    """,
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal Rank Fusion of two top-20 rankings (a length-based
    and a hash-ordered stand-in for lexical + dense retrieval): fused
    score 1/(60+r₁) + 1/(60+r₂) in one fixed association, missing
    entries contribute 0 — the hybrid-search combiner."""
    from pyspark.sql import Window as W

    from .operators import retrieval as _r

    d = load_table(spark, sf, "documents")
    w1 = W.orderBy(F.col("n_chars").desc(), "doc_id")
    r1 = d.select("doc_id", F.row_number().over(w1).alias("rank")).where(F.col("rank") <= 20)
    w2 = W.orderBy((F.col("doc_id") * 37) % 101, "doc_id")
    r2 = d.select("doc_id", F.row_number().over(w2).alias("rank")).where(F.col("rank") <= 20)
    out = _r.rrf_fuse([r1, r2], k=60)
    return out.select("doc_id", F.round("rrf_score", 9).alias("rrf_score"), "rank")


# ------------------------------------------------------------------ q222
@query(
    "q222_fill_time_gaps",
    """
    WITH t AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS b, value, epoch_us(ts) AS tu, event_id
        FROM events
    ),
    obs AS (SELECT user_id, b, last(value ORDER BY tu, event_id) AS v FROM t GROUP BY user_id, b),
    rng AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM t GROUP BY user_id),
    grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM rng),
    g AS (SELECT grid.user_id, grid.b, obs.v FROM grid LEFT JOIN obs USING (user_id, b))
    SELECT user_id, b * 3600000000 AS bucket_us,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY b
                                            ROWS UNBOUNDED PRECEDING) AS value,
           v IS NULL AS was_gap
    FROM g
    """,
)
def q222(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-filled hourly grid per user: dense bucket range between each
    user's first and last event (sequence-explode — no calendar table),
    per-bucket last observation carried forward through the holes; the
    densification every rolling/EMA/resample assumes."""
    from .operators import window as _w

    ev = load_table(spark, sf, "events")
    out = _w.fill_time_gaps(ev, "user_id", "ts", "value", step_seconds=3600, id_col="event_id")
    return out.select(
        "user_id", F.unix_micros("bucket_ts").alias("bucket_us"), "value", "was_gap"
    )


# ------------------------------------------------------------------ q223
@query(
    "q223_weighted_median",
    """
    WITH t AS (
        SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS v,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    pv AS (SELECT l_returnflag, v, sum(w) AS w FROM t GROUP BY l_returnflag, v),
    s AS (
        SELECT l_returnflag, v,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM pv
    )
    SELECT l_returnflag, min(v) AS weighted_median, min(tw)::BIGINT AS w_total
    FROM s WHERE cw * 2 >= tw GROUP BY l_returnflag
    """,
)
def q223(spark: SparkSession, sf: str) -> DataFrame:
    """Price-weighted median order quantity per return flag: cumulative
    weight runs over the DISTINCT value domain (q04's value-map shape),
    the reach test is all-integer 2·cumw ≥ total — engine-exact with no
    float boundary anywhere."""
    from .operators import groupby as _gb

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("v"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    return _gb.weighted_median(li, "l_returnflag", "v", "w").select(
        "l_returnflag", "weighted_median", F.col("w_total").cast("long").alias("w_total")
    )


# ------------------------------------------------------------------ q224
@query(
    "q224_scd_join",
    """
    WITH f AS (SELECT o_orderkey, o_custkey % 25 AS k, o_orderdate AS d FROM orders),
    dim AS (
        SELECT k, DATE '1992-01-01' AS vf, DATE '1998-01-01' AS vt, k * 10 AS attr
        FROM range(0, 25) t(k)
        UNION ALL
        SELECT k, DATE '1998-01-01', DATE '2002-01-01', k * 10 + 1
        FROM range(0, 25) t(k)
    )
    SELECT o_orderkey, attr
    FROM f JOIN dim ON f.k = dim.k AND f.d >= dim.vf AND f.d < dim.vt
    """,
)
def q224(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time (SCD Type 2) dimension join: every order matches
    the dimension VERSION valid on its order date — grid-rewritten to an
    equi-join on (key, date-bucket) + residual (range_join's shape), so
    no nested loop at any fact volume."""
    from .operators import merge as _mg

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", (F.col("o_custkey") % 25).alias("k"), F.col("o_orderdate").alias("d")
    )
    base = spark.range(0, 25).select(F.col("id").alias("k"))
    dim = base.select(
        "k",
        F.explode(
            F.array(
                F.struct(
                    F.lit("1992-01-01").cast("date").alias("valid_from"),
                    F.lit("1998-01-01").cast("date").alias("valid_to"),
                    (F.col("k") * 10).alias("attr"),
                ),
                F.struct(
                    F.lit("1998-01-01").cast("date").alias("valid_from"),
                    F.lit("2002-01-01").cast("date").alias("valid_to"),
                    (F.col("k") * 10 + 1).alias("attr"),
                ),
            )
        ).alias("v"),
    ).select("k", "v.valid_from", "v.valid_to", "v.attr")
    out = _mg.scd_join(o, dim, "k", "d", bucket_width_days=365)
    return out.select("o_orderkey", "attr")


# ------------------------------------------------------------------ q225
@query(
    "q225_embedding_dim_audit",
    """
    WITH e AS (
        SELECT unnest(list_transform(range(1, len(embedding) + 1),
                                     i -> {'d': i - 1, 'v': embedding[i]::DOUBLE})) AS s
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    t AS (SELECT s.d AS d, s.v AS v FROM e)
    SELECT CAST(d AS INT) AS dim, count(*) AS n,
           (sum(CAST(round(v * 1000000) AS BIGINT)))::DOUBLE / (count(*) * 1000000)::DOUBLE AS mean,
           round(quantile_cont(v, 0.01), 6) AS p01,
           round(quantile_cont(v, 0.50), 6) AS p50,
           round(quantile_cont(v, 0.99), 6) AS p99,
           min(v) AS min_v, max(v) AS max_v
    FROM t GROUP BY d
    """,
)
def q225(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding distribution audit (dead/saturated/
    outlier dims before they poison ANN): one (dim)-keyed aggregation —
    exact integer-scaled means, exact interpolated percentiles."""
    emb = load_table(spark, sf, "embeddings").where(F.col("embedding").isNotNull())
    ex = emb.select(F.posexplode("embedding").alias("dim", "__f__")).select(
        "dim", F.col("__f__").cast("double").alias("v")
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("v") * 1000000).cast("bigint")).alias("__sx__"),
        F.percentile("v", F.array(F.lit(0.01), F.lit(0.5), F.lit(0.99))).alias("__p__"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    return agg.select(
        F.col("dim").cast("int").alias("dim"), "n",
        (F.col("__sx__").cast("double") / (F.col("n") * 1000000).cast("double")).alias("mean"),
        F.round(F.col("__p__")[0], 6).alias("p01"),
        F.round(F.col("__p__")[1], 6).alias("p50"),
        F.round(F.col("__p__")[2], 6).alias("p99"),
        "min_v", "max_v",
    )


# ------------------------------------------------------------------ q226
@query(
    "q226_knn_label_agreement",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    a AS (SELECT vec_id AS aid, label AS albl, v AS av FROM e WHERE vec_id < 30),
    s AS (
        SELECT a.aid, a.albl, e.label,
               row_number() OVER (PARTITION BY a.aid
                                  ORDER BY list_cosine_similarity(e.v, a.av) DESC, e.vec_id) AS rk
        FROM e CROSS JOIN a WHERE e.vec_id != a.aid
    )
    SELECT aid AS vec_id, albl AS label,
           sum(CASE WHEN label = albl THEN 1 ELSE 0 END)::BIGINT AS n_agree,
           sum(CASE WHEN label = albl THEN 1 ELSE 0 END)::DOUBLE / 5 AS agree_frac
    FROM s WHERE rk <= 5 GROUP BY aid, albl
    """,
)
def q226(spark: SparkSession, sf: str) -> DataFrame:
    """Label-noise screen: fraction of each anchor's 5 nearest cosine
    neighbors (self excluded) sharing its label — neighborhood-vote
    mislabel detection over the broadcast-anchor brute-force scorer."""
    from .operators import similarity as _s

    emb = load_table(spark, sf, "embeddings")
    anchors = emb.where(F.col("vec_id") < 30).select("vec_id")
    out = _s.knn_label_agreement(emb, anchors, k=5)
    return out.select(
        "vec_id", "label", F.col("n_agree").cast("long").alias("n_agree"), "agree_frac"
    )


# ------------------------------------------------------------------ q227
@query(
    "q227_quantile_transform",
    """
    SELECT event_id,
           percent_rank() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 100) AS BIGINT)) AS q
    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    """,
)
def q227(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type quantile transform to [0,1] (distribution-free
    normalization): percent_rank over the integer-scaled value — ties
    share a rank so the output is a pure function of the value, and
    (rank−1)/(n−1) is the same exact division in both engines."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", "event_type", F.round(F.col("value") * 100).cast("bigint").alias("x"))
    )
    out = _st.quantile_transform(ev, "event_type", "x", out_col="q")
    return out.select("event_id", "q")


# ------------------------------------------------------------------ q228
@query(
    "q228_oov_rate",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
        FROM documents WHERE text IS NOT NULL
    ),
    tt AS (SELECT doc_id, t FROM toks WHERE length(t) > 0),
    vocab AS (SELECT t, 1 AS inv FROM tt GROUP BY t HAVING count(*) >= 10)
    SELECT doc_id, count(*) AS n_tokens,
           sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS oov_frac
    FROM tt LEFT JOIN vocab USING (t)
    GROUP BY doc_id
    """,
)
def q228(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document OOV rate against a frequency-floor vocabulary
    (count ≥ 10) — tokenizer-coverage screening; the vocab broadcasts
    and only (id, flag) pairs shuffle.  Exact integer ratios."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    ex = d.where(F.col("text").isNotNull()).select(F.explode(toks).alias("token")).where(
        F.length("token") > 0
    )
    vocab = ex.groupBy("token").agg(F.count(F.lit(1)).alias("__c__")).where(F.col("__c__") >= 10)
    return _tx.oov_rate(d, vocab)


# ------------------------------------------------------------------ q229
@query(
    "q229_negative_sample",
    """
    WITH n AS (SELECT count(*) AS nn FROM documents),
    p AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '|11'), 1, 15))::BIGINT, doc_id
               ) - 1 AS pos
        FROM documents
    ),
    d AS (
        SELECT doc_id AS anchor, j,
               ('0x' || substr(md5(doc_id::VARCHAR || '#' || j::VARCHAR || '#11'), 1, 15))::BIGINT % nn AS draw
        FROM documents, (SELECT unnest(range(0, 3)) AS j) CROSS JOIN n
    )
    SELECT d.anchor, CAST(d.j AS INT) AS j, p.doc_id AS negative
    FROM d JOIN p ON p.pos = d.draw
    WHERE p.doc_id != d.anchor
    """,
)
def q229(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic contrastive negative sampling: 3 hash-drawn
    positions per anchor in the seed-11 permuted corpus order, resolved
    to ids by a position equi-join (shuffle_rows' bucketed exact
    positions — the oracle's global row_number is the semantics, not
    the plan); self-draws filtered in both engines."""
    from .operators import pipeline as _pl

    d = load_table(spark, sf, "documents")
    out = _pl.negative_sample(d.select("doc_id"), "doc_id", k=3, seed=11, hash_kind="md5")
    return out.select("anchor", F.col("j").cast("int").alias("j"), "negative")


# ------------------------------------------------------------------ q230
_HLL_A = repr(0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * float(1 << 53))


@query(
    "q230_hll_distinct",
    f"""
    WITH h AS (
        SELECT ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS hv
        FROM orders WHERE o_custkey IS NOT NULL
    ),
    r AS (
        SELECT CAST(hv >> 52 AS INT) AS bucket,
               CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                    ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT) AS rho0
        FROM h
    ),
    regs AS (SELECT bucket, max(rho0) AS rho FROM r GROUP BY bucket),
    agg AS (SELECT count(*) AS used, sum((1::BIGINT << (53 - rho))) AS s FROM regs),
    est AS (
        SELECT used,
               {_HLL_A} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE AS raw
        FROM agg
    )
    SELECT used AS n_buckets_used,
           round(CASE WHEN raw <= 640.0 AND (256 - used) > 0
                      THEN 256.0 * ln(256.0 / (256 - used))
                      ELSE raw END, 6) AS estimate
    FROM est
    """,
)
def q230(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct customers as a PLAIN (bucket, rho) register
    relation — mergeable across shards with a max-agg — with the
    harmonic sum in INTEGER arithmetic (Σ 2^(53−rho)); the oracle
    replays registers AND estimate bit-for-bit on the portable hash."""
    from .operators import sketch as _sk

    o = load_table(spark, sf, "orders")
    out = _sk.hll_count(o, "o_custkey", p=8, hash_kind="md5")
    return out.select(
        F.col("n_buckets_used").cast("long").alias("n_buckets_used"),
        F.round("estimate", 6).alias("estimate"),
    )


# ------------------------------------------------------------------ q231
@query(
    "q231_asof_topk",
    """
    WITH t AS (
        SELECT event_id, user_id, epoch_us(ts) AS tu FROM events WHERE event_type = 'purchase'
    ),
    q AS (
        SELECT event_id AS qid, user_id, epoch_us(ts) AS qt,
               CAST(round(value * 100) AS BIGINT) AS qv
        FROM events WHERE event_type = 'click'
    ),
    cand AS (
        SELECT t.event_id, t.user_id, q.qid, q.qv,
               row_number() OVER (PARTITION BY t.user_id, t.event_id
                                  ORDER BY q.qt DESC, q.qid) AS asof_rank
        FROM t JOIN q ON q.user_id = t.user_id
                     AND q.qt <= t.tu AND q.qt > t.tu - 86400000000
    )
    SELECT event_id, user_id, qid AS click_id, qv AS click_value, asof_rank
    FROM cand WHERE asof_rank <= 2
    """,
)
def q231(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k as-of join: each purchase matched to its 2 most recent
    clicks within 24 h — the point-in-interval grid rewrite (equi-join
    on (user, day-bucket) + residual, never a nested loop) with a
    bounded per-purchase ranking window."""
    from .operators import merge as _mg

    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    quotes = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("qid"), "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("qv"),
    )
    out = _mg.merge_asof_topk(
        trades, quotes, on="t_us", by=["user_id"], left_id_col="event_id",
        k=2, tolerance=86400000000.0,
    )
    return out.select(
        "event_id", "user_id", F.col("qid").alias("click_id"),
        F.col("qv").alias("click_value"), "asof_rank",
    )


# ------------------------------------------------------------------ q232
@query(
    "q232_weighted_quantile",
    """
    WITH t AS (
        SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS v,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS w
        FROM lineitem
    ),
    pv AS (SELECT l_returnflag, v, sum(w) AS w FROM t GROUP BY l_returnflag, v),
    s AS (
        SELECT l_returnflag, v,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM pv
    )
    SELECT l_returnflag, min(v) AS weighted_quantile, min(tw)::BIGINT AS w_total
    FROM s WHERE cw * 10 >= tw * 9 GROUP BY l_returnflag
    """,
)
def q232(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted P90 of order quantity (price-weighted): weighted_median
    generalized to rational q with the all-integer reach test
    cumw·10 ≥ 9·total."""
    from .operators import groupby as _gb

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("v"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
    )
    return _gb.weighted_quantile(li, "l_returnflag", "v", "w", q_num=9, q_den=10).select(
        "l_returnflag", "weighted_quantile", F.col("w_total").cast("long").alias("w_total")
    )


# ------------------------------------------------------------------ q233
@query(
    "q233_count_min",
    """
    WITH src AS (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL),
    probes AS (
        SELECT i AS row,
               ('0x' || substr(md5(i::VARCHAR || '#' || o_custkey::VARCHAR), 1, 15))::BIGINT % 256 AS bucket
        FROM src, (SELECT unnest(range(0, 4)) AS i)
    ),
    cms AS (SELECT row, bucket, count(*) AS c FROM probes GROUP BY row, bucket),
    keys AS (SELECT unnest(range(1, 21)) AS k),
    kp AS (
        SELECT k, i AS row,
               ('0x' || substr(md5(i::VARCHAR || '#' || k::VARCHAR), 1, 15))::BIGINT % 256 AS bucket
        FROM keys, (SELECT unnest(range(0, 4)) AS i)
    ),
    est AS (SELECT k, min(coalesce(c, 0)) AS est FROM kp LEFT JOIN cms USING (row, bucket) GROUP BY k),
    ex AS (SELECT o_custkey AS k, count(*) AS exact FROM src GROUP BY o_custkey)
    SELECT est.k AS custkey, est.est::BIGINT AS est, coalesce(ex.exact, 0)::BIGINT AS exact
    FROM est LEFT JOIN ex USING (k)
    """,
)
def q233(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency sketch as a mergeable (row, bucket, count)
    relation (4×256 counters over customer order counts) probed for 20
    point keys, alongside the exact counts — the oracle replays build,
    probe, and min-of-counters bit-for-bit; estimates are provable
    upper bounds of the exact column."""
    from .operators import sketch as _sk

    o = load_table(spark, sf, "orders")
    cms = _sk.cms_build(o, "o_custkey", d=4, w=256, hash_kind="md5")
    keys = spark.range(1, 21).select(F.col("id").alias("custkey"))
    est = _sk.cms_query(cms, keys, "custkey", d=4, w=256, hash_kind="md5")
    exact = o.where(F.col("o_custkey").isNotNull()).groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(F.count(F.lit(1)).alias("exact"))
    out = est.join(exact, on="custkey", how="left")
    return out.select(
        "custkey", F.col("est").cast("long").alias("est"),
        F.coalesce(F.col("exact"), F.lit(0)).cast("long").alias("exact"),
    )


# ------------------------------------------------------------------ q234
@query(
    "q234_chi_square",
    """
    WITH t AS (
        SELECT event_type AS a, user_id % 7 AS b FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ),
    pair AS (SELECT a, b, count(*) AS o FROM t GROUP BY a, b),
    ma AS (SELECT a, sum(o)::BIGINT AS ca FROM pair GROUP BY a),
    mb AS (SELECT b, sum(o)::BIGINT AS cb FROM pair GROUP BY b),
    tot AS (SELECT sum(o)::BIGINT AS tn, count(DISTINCT a) AS ra, count(DISTINCT b) AS rb FROM pair),
    terms AS (
        SELECT (o::DOUBLE - e) * (o::DOUBLE - e) / e - e AS term, tn, ra, rb
        FROM (SELECT o, ca::DOUBLE * cb::DOUBLE / tn::DOUBLE AS e, tn, ra, rb
              FROM pair JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot)
    )
    SELECT round(sum(term) + min(tn), 6) AS chi2,
           ((min(ra) - 1) * (min(rb) - 1))::BIGINT AS dof,
           min(tn)::BIGINT AS n
    FROM terms
    """,
)
def q234(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence test (event type × user bucket): one
    contingency shuffle, absent cells folded in via Σterm + N algebra,
    exact-integer-derived doubles."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("a"), (F.col("user_id") % 7).alias("b"))
    )
    out = _st.chi_square(ev, "a", "b")
    return out.select(F.round("chi2", 6).alias("chi2"), "dof", "n")


# ------------------------------------------------------------------ q235
@query(
    "q235_proportion_ci",
    """
    WITH t AS (
        SELECT source, CASE WHEN n_chars > 250 THEN 1 ELSE 0 END AS s
        FROM documents WHERE n_chars IS NOT NULL
    ),
    agg AS (SELECT source, count(*) AS n, sum(s)::BIGINT AS n_success FROM t GROUP BY source)
    SELECT source, n, n_success,
           round(p, 6) AS p_hat,
           round(greatest((p + z2 / (2.0 * nd)) / denom
                 - 1.959963984540054 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)) / denom, 0.0), 6) AS ci_lo,
           round(least((p + z2 / (2.0 * nd)) / denom
                 + 1.959963984540054 * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)) / denom, 1.0), 6) AS ci_hi
    FROM (
        SELECT source, n, n_success, n::DOUBLE AS nd,
               n_success::DOUBLE / n::DOUBLE AS p,
               1.959963984540054 * 1.959963984540054 AS z2,
               1.0 + 1.959963984540054 * 1.959963984540054 / n::DOUBLE AS denom
        FROM agg
    )
    """,
)
def q235(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source long-document proportion with the Wilson score 95%
    interval — exact integer counts, deterministic interval algebra
    mirrored term-for-term."""
    from .functions import stats as _st

    d = load_table(spark, sf, "documents").where(F.col("n_chars").isNotNull())
    d = d.withColumn("s", (F.col("n_chars") > 250).cast("int"))
    out = _st.proportion_ci(d, "source", "s")
    return out.select(
        "source", "n", F.col("n_success").cast("long").alias("n_success"),
        F.round("p_hat", 6).alias("p_hat"),
        F.round("ci_lo", 6).alias("ci_lo"), F.round("ci_hi", 6).alias("ci_hi"),
    )


# ------------------------------------------------------------------ q236
@query(
    "q236_rfm_features",
    """
    WITH g AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
    u AS (
        SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS frequency,
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT AS monetary
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST((now_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
           frequency, monetary
    FROM u CROSS JOIN g
    """,
)
def q236(spark: SparkSession, sf: str) -> DataFrame:
    """RFM feature block (recency / frequency / monetary) per user —
    the classic churn/value feature triple as one hash-agg + a 1-row
    global reference time, all integer arithmetic."""
    ev = load_table(spark, sf, "events").withColumn("t_us", F.unix_micros("ts"))
    g = ev.agg(F.max("t_us").alias("now_us"))
    u = ev.groupBy("user_id").agg(
        F.max("t_us").alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.when(F.col("event_type") == "purchase",
                   F.round(F.col("value") * 100).cast("bigint")).otherwise(0)
        ).cast("long").alias("monetary"),
    )
    return u.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.floor((F.col("now_us") - F.col("last_us")) / 86400000000).cast("long").alias("recency_days"),
        "frequency", "monetary",
    )


# ------------------------------------------------------------------ q237
@query(
    "q237_hll_trailing_dau",
    f"""
    WITH h AS (
        SELECT epoch_us(ts) // 86400000000 AS t,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT t, CAST(hv >> 52 AS INT) AS bucket,
               CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                    ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT) AS rho0
        FROM h
    ),
    regs AS (SELECT t, bucket, max(rho0) AS rho FROM r GROUP BY t, bucket),
    grid AS (
        SELECT tt.t, b.bucket
        FROM (SELECT DISTINCT t FROM regs) tt CROSS JOIN (SELECT DISTINCT bucket FROM regs) b
    ),
    jm AS (SELECT grid.t, grid.bucket, regs.rho FROM grid LEFT JOIN regs USING (t, bucket)),
    m AS (
        SELECT t, bucket,
               max(rho) OVER (PARTITION BY bucket ORDER BY t
                              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rho
        FROM jm
    ),
    mm AS (SELECT t, bucket, rho FROM m WHERE rho IS NOT NULL),
    agg AS (SELECT t, count(*) AS used, sum((1::BIGINT << (53 - rho))) AS s FROM mm GROUP BY t),
    est AS (
        SELECT t, used,
               {_HLL_A} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE AS raw
        FROM agg
    )
    SELECT t AS day, used::BIGINT AS n_buckets_used,
           round(CASE WHEN raw <= 640.0 AND (256 - used) > 0
                      THEN 256.0 * ln(256.0 / (256 - used))
                      ELSE raw END, 6) AS estimate
    FROM est
    """,
)
def q237(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day active users from DAILY HLL sketches: per-day
    register relations merge with a rangeBetween MAX per bucket —
    O(days · 256) rollup work, event volume never rescanned; the oracle
    replays sketches, window merge, and integer-harmonic estimates
    bit-for-bit."""
    from .operators import sketch as _sk

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("day", F.floor(F.unix_micros("ts") / 86400000000).cast("long"))
    )
    regs = _sk.hll_registers_by(ev, "day", "user_id", p=8, hash_kind="md5")
    out = _sk.hll_trailing_estimate(regs, "day", trailing=7, p=8)
    return out.select(
        "day", F.col("n_buckets_used").cast("long").alias("n_buckets_used"),
        F.round("estimate", 6).alias("estimate"),
    )


# ------------------------------------------------------------------ q238
def _hll_est_sql(cte: str) -> str:
    return f"""(
        SELECT round(CASE WHEN raw <= 640.0 AND (256 - used) > 0
                          THEN 256.0 * ln(256.0 / (256 - used)) ELSE raw END, 6) AS e
        FROM (SELECT used, {_HLL_A} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE AS raw
              FROM (SELECT count(*) AS used, sum((1::BIGINT << (53 - rho))) AS s FROM {cte}))
    )"""


@query(
    "q238_audience_overlap",
    f"""
    WITH ha AS (
        SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
    ),
    hb AS (
        SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    ra AS (SELECT CAST(hv >> 52 AS INT) AS bucket,
                  max(CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                       ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT)) AS rho
           FROM ha GROUP BY 1),
    rb AS (SELECT CAST(hv >> 52 AS INT) AS bucket,
                  max(CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                       ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT)) AS rho
           FROM hb GROUP BY 1),
    ru AS (SELECT bucket, max(rho) AS rho FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY bucket)
    SELECT a.e AS est_a, b.e AS est_b, u.e AS est_union,
           round(a.e + b.e - u.e, 6) AS est_intersection
    FROM {_hll_est_sql('ra')} a CROSS JOIN {_hll_est_sql('rb')} b CROSS JOIN {_hll_est_sql('ru')} u
    """,
)
def q238(spark: SparkSession, sf: str) -> DataFrame:
    """Audience overlap by HLL inclusion-exclusion: clickers ∩
    purchasers ≈ est(A) + est(B) − est(A∪B), the union sketch being the
    bucket-wise MAX merge — three register relations, no raw-user join
    anywhere."""
    from .operators import sketch as _sk

    ev = load_table(spark, sf, "events").where(F.col("user_id").isNotNull())
    a = _sk.hll_registers(ev.where(F.col("event_type") == "click"), "user_id", hash_kind="md5")
    b = _sk.hll_registers(ev.where(F.col("event_type") == "purchase"), "user_id", hash_kind="md5")
    u = _sk.hll_merge(a, b)
    ea = _sk.hll_estimate(a).select(F.round("estimate", 6).alias("est_a"))
    eb = _sk.hll_estimate(b).select(F.round("estimate", 6).alias("est_b"))
    eu = _sk.hll_estimate(u).select(F.round("estimate", 6).alias("est_union"))
    out = ea.crossJoin(eb).crossJoin(eu)
    return out.withColumn(
        "est_intersection", F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6)
    )


# ------------------------------------------------------------------ q239
@query(
    "q239_path_trigrams",
    """
    WITH t AS (
        SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
        FROM events WHERE event_type IS NOT NULL
    ),
    l AS (
        SELECT event_type AS s3,
               lag(event_type, 1) OVER w AS s2,
               lag(event_type, 2) OVER w AS s1
        FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
    )
    SELECT s1, s2, s3, count(*) AS n
    FROM l WHERE s1 IS NOT NULL
    GROUP BY s1, s2, s3
    """,
)
def q239(spark: SparkSession, sf: str) -> DataFrame:
    """Top user journey trigrams: per-user ordered event-type
    3-sequences via two lags in ONE window pass, then a tiny count
    aggregate — the path-analysis staple."""
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull())
        .withColumn("t_us", F.unix_micros("ts"))
    )
    w = W.partitionBy("user_id").orderBy("t_us", "event_id")
    l = ev.select(
        F.col("event_type").alias("s3"),
        F.lag("event_type", 1).over(w).alias("s2"),
        F.lag("event_type", 2).over(w).alias("s1"),
    )
    return l.where(F.col("s1").isNotNull()).groupBy("s1", "s2", "s3").agg(
        F.count(F.lit(1)).alias("n")
    )


# ------------------------------------------------------------------ q240
@query(
    "q240_hist_quantile_sketch",
    """
    WITH h AS (
        SELECT greatest(0, least(255, floor((value - 0.0) / 200.0 * 256)))::INT AS bucket,
               count(*) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
        SELECT bucket, sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cm,
               (SELECT sum(c) FROM h) AS tot
        FROM h
    ),
    qs AS (SELECT * FROM (VALUES (1, 2), (9, 10), (99, 100)) q(qn, qd))
    SELECT qn AS q_num, qd AS q_den,
           0.0 + min(bucket)::DOUBLE * (200.0 / 256) AS quantile_est
    FROM qs JOIN cum ON cm * qd >= tot * qn
    GROUP BY qn, qd
    """,
)
def q240(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable histogram-quantile sketch: P50/P90/P99 of the event
    value from a 256-bucket (bucket, count) relation — all-integer
    reach tests, bucket-edge answers, error ≤ one bucket width; the
    per-shard sketches fold by SUM."""
    from .operators import sketch as _sk

    ev = load_table(spark, sf, "events")
    h = _sk.hist_sketch(ev, "value", bins=256, lo=0.0, hi=200.0)
    return _sk.hist_quantile(h, [(1, 2), (9, 10), (99, 100)], bins=256, lo=0.0, hi=200.0)


# ------------------------------------------------------------------ q241
@query(
    "q241_kmv_sketch",
    f"""
    WITH d AS (
        SELECT ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS hv,
               min(o_custkey) AS value
        FROM orders WHERE o_custkey IS NOT NULL
        GROUP BY 1
    ),
    bk AS (SELECT hv, value FROM d ORDER BY hv LIMIT 64),
    agg AS (SELECT count(*) AS n, max(hv) AS hk FROM bk)
    SELECT n::BIGINT AS n_in_sketch,
           round(CASE WHEN n < 64 THEN n::DOUBLE
                      ELSE 63.0 * {float(1 << 60)!r} / hk::DOUBLE END, 6) AS estimate,
           (SELECT sum(value) FROM bk)::BIGINT AS sample_key_sum
    FROM agg
    """,
)
def q241(spark: SparkSession, sf: str) -> DataFrame:
    """KMV bottom-64 sketch of distinct customers: simultaneously a
    distinct-count estimate ((k−1)·H/h_k — integer inputs, one
    division) and a DETERMINISTIC uniform sample of the key domain
    (checksummed by the oracle).  orderBy+limit plans as
    TakeOrderedAndProject — per-partition bottom-k, no global sort."""
    from .operators import sketch as _sk

    o = load_table(spark, sf, "orders")
    sk = _sk.kmv_sketch(o, "o_custkey", k=64, hash_kind="md5")
    est = _sk.kmv_estimate(sk, k=64)
    ssum = sk.agg(F.sum("value").cast("long").alias("sample_key_sum"))
    return est.crossJoin(F.broadcast(ssum)).select(
        F.col("n_in_sketch").cast("long").alias("n_in_sketch"),
        F.round("estimate", 6).alias("estimate"),
        "sample_key_sum",
    )


# ------------------------------------------------------------------ q242
@query(
    "q242_auc_exact",
    """
    WITH t AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CAST(round(value * 100) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    per AS (SELECT s, sum(y) AS p, sum(1 - y) AS n FROM t GROUP BY s),
    c AS (
        SELECT s, p, n,
               coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS nb
        FROM per
    ),
    agg AS (SELECT sum(p * (2 * nb + n)) AS num2, sum(p) AS pp, sum(n) AS nn FROM c)
    SELECT pp::BIGINT AS n_pos, nn::BIGINT AS n_neg,
           num2::DOUBLE / (2.0 * pp::DOUBLE * nn::DOUBLE) AS auc
    FROM agg
    """,
)
def q242(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ROC AUC of 'value predicts purchase' — Mann-Whitney over
    the score-DOMAIN counts with tie half-credit folded into the ×2
    integer numerator; the one float division happens identically in
    both engines (unrounded output)."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            (F.col("event_type") == "purchase").cast("int").alias("y"),
            F.round(F.col("value") * 100).cast("bigint").alias("s"),
        )
    )
    return _st.auc_exact(ev, "y", "s")


# ------------------------------------------------------------------ q243
@query(
    "q243_calibration_bins",
    """
    WITH t AS (
        SELECT value / 200.0 AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT greatest(0, least(9, floor(p * 10)))::INT AS bin, count(*) AS n,
           (sum(CAST(round(p * 1000000) AS BIGINT)))::DOUBLE / (count(*) * 1000000)::DOUBLE AS mean_pred,
           sum(y)::DOUBLE / count(*)::DOUBLE AS frac_pos
    FROM t GROUP BY 1
    """,
)
def q243(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability-curve bins for the value/200 pseudo-probability vs
    the purchase label — per-bin mean prediction (exact scaled sums)
    against positive rate (exact integer ratio)."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            (F.col("value") / 200.0).alias("p"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
    )
    return _st.calibration_bins(ev, "p", "y", bins=10)


# ------------------------------------------------------------------ q244
@query(
    "q244_kfold_split",
    """
    SELECT fold, count(*) AS n, sum(n_chars)::BIGINT AS chars FROM (
        SELECT CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5 AS INT) AS fold,
               n_chars
        FROM documents
    ) GROUP BY fold
    """,
)
def q244(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (hash % k, zero shuffle) —
    audited by per-fold counts and char mass."""
    from .operators import pipeline as _pl

    d = load_table(spark, sf, "documents")
    out = _pl.kfold_split(d, "doc_id", k=5, hash_kind="md5")
    return out.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("long").alias("chars")
    )


# ------------------------------------------------------------------ q245
@query(
    "q245_retention_curve",
    """
    WITH t AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        WHERE user_id IS NOT NULL
    ),
    last AS (SELECT user_id, max(day) AS ld FROM t GROUP BY user_id),
    md AS (SELECT max(ld) AS maxd FROM last),
    per AS (
        SELECT ld AS day, count(*) AS ended,
               sum(CASE WHEN ld < maxd THEN 1 ELSE 0 END)::BIGINT AS n_churned
        FROM last CROSS JOIN md GROUP BY ld
    ),
    cur AS (
        SELECT day, n_churned,
               sum(ended) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
        FROM per
    )
    SELECT day, n_at_risk::BIGINT AS n_at_risk, n_churned,
           n_churned::DOUBLE / n_at_risk::DOUBLE AS hazard,
           round(exp(sum(ln(1.0 - n_churned::DOUBLE / n_at_risk::DOUBLE))
                     OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6) AS survival
    FROM cur
    """,
)
def q245(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier retention over activity days (last active day =
    churn; final-day users censored): at-risk and churn counts are
    exact integers, hazards exact ratios, and the survival product
    (the one float chain, over a ≤31-row day domain) rounds at 6dp."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("day", F.floor(F.unix_micros("ts") / 86400000000).cast("long"))
    )
    out = _st.retention_curve(ev, "user_id", "day")
    return out.select(
        "day", "n_at_risk", F.col("n_churned").cast("long").alias("n_churned"),
        F.col("hazard").alias("hazard"), F.round("survival", 6).alias("survival"),
    )


# ------------------------------------------------------------------ q246
@query(
    "q246_gains_table",
    """
    WITH t AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    cuts AS (
        SELECT [quantile_cont(s, 0.1), quantile_cont(s, 0.2), quantile_cont(s, 0.3),
                quantile_cont(s, 0.4), quantile_cont(s, 0.5), quantile_cont(s, 0.6),
                quantile_cont(s, 0.7), quantile_cont(s, 0.8), quantile_cont(s, 0.9)] AS cs
        FROM t
    ),
    b AS (
        SELECT CAST(len(list_filter(cs, c -> s <= c)) AS INT) AS bucket, y
        FROM t CROSS JOIN cuts
    ),
    per AS (SELECT bucket, count(*) AS n, sum(y)::BIGINT AS n_pos FROM b GROUP BY bucket),
    tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per)
    SELECT bucket, n, n_pos,
           n_pos::DOUBLE / n::DOUBLE AS pos_rate,
           (sum(n_pos) OVER (ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING))::DOUBLE
               / tp::DOUBLE AS cum_capture,
           (n_pos::DOUBLE / n::DOUBLE) / (tp::DOUBLE / tn::DOUBLE) AS lift
    FROM per CROSS JOIN tot
    """,
)
def q246(spark: SparkSession, sf: str) -> DataFrame:
    """Gains/lift table for 'value predicts purchase': decile buckets
    from exact score cutpoints (one percentile aggregate broadcast —
    no ntile global sort; bucket 0 = best scores), cumulative positive
    capture and per-bucket lift as exact ratios."""
    from .functions import stats as _st

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.round(F.col("value") * 100).cast("bigint").alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
    )
    return _st.gains_table(ev, "s", "y", n_buckets=10)


# ------------------------------------------------------------------ q247
@query(
    "q247_permutation_test",
    """
    WITH d AS (
        SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    obs AS (
        SELECT (sum(CASE WHEN event_type = 'click' THEN x END))::DOUBLE
               / (count(CASE WHEN event_type = 'click' THEN x END))::DOUBLE
             - (sum(CASE WHEN event_type = 'purchase' THEN x END))::DOUBLE
               / (count(CASE WHEN event_type = 'purchase' THEN x END))::DOUBLE AS obs_diff
        FROM d
    ),
    ex AS (
        SELECT x,
               ('0x' || substr(md5(event_id::VARCHAR || '#' || b::VARCHAR), 1, 15))::BIGINT % 2 AS s,
               b
        FROM d, (SELECT unnest(range(0, 40)) AS b)
    ),
    perm AS (
        SELECT b,
               (sum(CASE WHEN s = 0 THEN x END))::DOUBLE / (count(CASE WHEN s = 0 THEN x END))::DOUBLE
             - (sum(CASE WHEN s = 1 THEN x END))::DOUBLE / (count(CASE WHEN s = 1 THEN x END))::DOUBLE AS pd
        FROM ex GROUP BY b
    )
    SELECT min(obs_diff) AS obs_diff,
           sum(CASE WHEN abs(pd) >= abs(obs_diff) THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
           count(*)::BIGINT AS n_perm,
           sum(CASE WHEN abs(pd) >= abs(obs_diff) THEN 1 ELSE 0 END)::DOUBLE
               / count(*)::DOUBLE AS p_value
    FROM perm CROSS JOIN obs
    """,
)
def q247(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic permutation test (click vs purchase value means):
    40 hash-derived relabelings over integer-scaled values — every
    permuted mean an exact ratio, the extreme-count comparison
    engine-identical, no RNG anywhere."""
    from .functions import stats as _st

    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("bigint").alias("x")
    ).where(F.col("x").isNotNull())
    return _st.permutation_test(
        ev, "event_type", "x", "click", "purchase", n_perm=40, id_col="event_id", hash_kind="md5"
    )


# ------------------------------------------------------------------ q248
@query(
    "q248_markov_eval",
    """
    WITH t AS (
        SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
        FROM events WHERE event_type IS NOT NULL
    ),
    l AS (
        SELECT event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS prev
        FROM t
    ),
    pairs AS (SELECT prev, cur FROM l WHERE prev IS NOT NULL),
    model AS (SELECT prev, cur AS cand, count(*) AS n FROM pairs GROUP BY prev, cur),
    best AS (
        SELECT prev, cand AS pred FROM (
            SELECT prev, cand, row_number() OVER (PARTITION BY prev ORDER BY n DESC, cand) AS rk
            FROM model
        ) WHERE rk = 1
    )
    SELECT count(*) AS n_transitions,
           sum(CASE WHEN cur = pred THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           sum(CASE WHEN cur = pred THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE AS accuracy
    FROM pairs JOIN best USING (prev)
    """,
)
def q248(spark: SparkSession, sf: str) -> DataFrame:
    """Markov next-event prediction evaluated in-sample: the argmax of
    each row's transition distribution (deterministic tie-break) scores
    every adjacent pair — model building AND evaluation as two tiny
    aggregates over one lag window."""
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isNotNull())
        .withColumn("t_us", F.unix_micros("ts"))
    )
    w = W.partitionBy("user_id").orderBy("t_us", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"), F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    model = pairs.groupBy("prev", F.col("cur").alias("cand")).agg(F.count(F.lit(1)).alias("n"))
    wb = W.partitionBy("prev").orderBy(F.col("n").desc(), "cand")
    best = model.withColumn("rk", F.row_number().over(wb)).where(F.col("rk") == 1).select(
        "prev", F.col("cand").alias("pred")
    )
    j = pairs.join(F.broadcast(best), on="prev")
    return j.agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum(F.when(F.col("cur") == F.col("pred"), 1).otherwise(0)).cast("long").alias("n_correct"),
        (
            F.sum(F.when(F.col("cur") == F.col("pred"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("accuracy"),
    )


# ------------------------------------------------------------------ q249
@query(
    "q249_key_skew_histogram",
    """
    WITH per AS (
        SELECT o_custkey, count(*) AS n FROM orders
        WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    )
    SELECT (length(bin(n)) - 1)::INT AS log2_bucket,
           count(*) AS n_keys, sum(n)::BIGINT AS n_rows
    FROM per GROUP BY 1
    """,
)
def q249(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew audit (count-of-counts histogram on log2 buckets)
    — the diagnostic a salting / AQE-skew decision reads BEFORE the
    expensive join; two tiny aggregations over the per-key counts."""
    from .operators import profile as _pf

    o = load_table(spark, sf, "orders")
    hist, _top = _pf.key_skew(o, "o_custkey")
    return hist.select(
        F.col("log2_bucket").cast("int").alias("log2_bucket"),
        "n_keys", F.col("n_rows").cast("long").alias("n_rows"),
    )
