"""Driver-contract query registry, batch 18 (round 5, q644+):
LM-corpus statistics (Zipf fit, Good-Turing, Kneser-Ney, vocabulary
coverage) and weighted near-dup similarity.  Registers into the same
QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queries17  # noqa: F401 — q652 composes the registered q633
from .queries import query
from .sources.io import load_table

# shared oracle prelude: q173's tokenization (lower, whitespace-
# normalize, split, drop empties) -> token frequency table
_VOCAB_PRELUDE = """
    toks AS (
        SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS token
        FROM documents
    ),
    t AS (SELECT token FROM toks WHERE length(token) > 0),
    counts AS (SELECT token, count(*) AS n FROM t GROUP BY token)
"""


# ------------------------------------------------------------------ q644
@query(
    "q644_zipf_fit",
    f"""
    WITH {_VOCAB_PRELUDE},
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts
    ),
    top AS (SELECT rank, n FROM ranked WHERE rank <= 40),
    arrs AS (
        SELECT CAST(count(*) AS BIGINT) AS r_used,
               list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS lx,
               list(ln(CAST(n AS DOUBLE)) ORDER BY rank) AS ly,
               list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS lxx,
               list(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE)) ORDER BY rank) AS lxy
        FROM top
    ),
    -- left folds replay F.aggregate's ((0+t1)+t2)+... association
    -- exactly (list_reduce seeds with t1; 0.0+t1 == t1 bit-for-bit)
    sums AS (
        SELECT r_used,
               list_reduce(lx, (a, b) -> a + b) AS sx,
               list_reduce(ly, (a, b) -> a + b) AS sy,
               list_reduce(lxx, (a, b) -> a + b) AS sxx,
               list_reduce(lxy, (a, b) -> a + b) AS sxy
        FROM arrs
    ),
    sl AS (
        SELECT r_used, sx, sy,
               (CAST(r_used AS DOUBLE) * sxy - sx * sy)
               / (CAST(r_used AS DOUBLE) * sxx - sx * sx) AS slope
        FROM sums
    )
    SELECT r_used, round(slope, 6) AS slope,
           round((sy - slope * sx) / CAST(r_used AS DOUBLE), 6) AS intercept
    FROM sl
    """,
)
def q644(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law OLS fit (ln freq on ln rank, top-40 types) over the
    documents corpus (operators/text.zipf_fit) — the corpus-health
    diagnostic.  Float sums are order-pinned left folds on both
    engines, but ln itself is NOT universally cross-engine exact
    (Java Math.log(936.0) differs from libm by 1 ulp — found by this
    query's sf0.01 gate), so outputs are rounded at 6 dp like the
    other ln-based scores (q173/q198)."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    out = _tx.zipf_fit(d, top_r=40)
    return out.select(
        "r_used",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


# ------------------------------------------------------------------ q645
@query(
    "q645_good_turing",
    """
    WITH docs AS (
        SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
        FROM documents WHERE text IS NOT NULL
    ),
    tg AS (
        SELECT unnest(list_transform(range(1, greatest(len(l) - 2, 0) + 1),
                                     i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS token
        FROM docs
    ),
    counts AS (SELECT token, count(*) AS n FROM tg WHERE length(token) > 0 GROUP BY token),
    nr AS (
        SELECT n AS r, CAST(count(*) AS BIGINT) AS n_r
        FROM counts WHERE n <= 11 GROUP BY n
    ),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM counts),
    nxt AS (SELECT r - 1 AS r, n_r AS n_r1 FROM nr)
    SELECT CAST(nr.r AS BIGINT) AS r, nr.n_r,
           CAST(coalesce(nxt.n_r1, 0) AS BIGINT) AS n_r_plus1,
           CAST(nr.r + 1 AS DOUBLE) * CAST(coalesce(nxt.n_r1, 0) AS DOUBLE)
             / CAST(nr.n_r AS DOUBLE) AS r_star,
           CAST(nr.n_r * nr.r AS DOUBLE) / CAST(total.N AS DOUBLE) AS class_token_share
    FROM nr LEFT JOIN nxt ON nr.r = nxt.r CROSS JOIN total
    WHERE nr.r <= 10
    """,
)
def q645(spark: SparkSession, sf: str) -> DataFrame:
    """Good-Turing count-of-counts table r = 1..10 over TRIGRAM types
    with smoothed r* and per-class corpus-token share
    (operators/text.good_turing, ngram=3 — the word-type view is
    vacuous on this corpus's fixed 31-token vocabulary; trigrams have
    the populated low-r tail an LM smoother actually consumes).  The
    N_{r+1} lookup is a self-join, not lead(), so a missing frequency
    class yields 0, never the next populated class."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    return _tx.good_turing(d, max_r=10, ngram=3)


# ------------------------------------------------------------------ q646
@query(
    "q646_kneser_ney",
    """
    WITH docs AS (
        SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS l
        FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, greatest(len(l) - 1, 0) + 1),
                                     i -> l[i] || ' ' || l[i+1])) AS b
        FROM docs
    ),
    c12 AS (
        SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
               CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY b
    ),
    c1 AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1_fw
        FROM c12 GROUP BY w1
    ),
    bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_bw FROM c12 GROUP BY w2),
    nbi AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM c12)
    SELECT c12.w1, c12.w2, c12.c12, c1.c1, c1.n1_fw, bw.n1_bw, nbi.n_bi,
           (CAST(c12.c12 AS DOUBLE) - CAST('0.75' AS DOUBLE)) / CAST(c1.c1 AS DOUBLE)
           + (CAST('0.75' AS DOUBLE) * CAST(c1.n1_fw AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
             * (CAST(bw.n1_bw AS DOUBLE) / CAST(nbi.n_bi AS DOUBLE)) AS p_kn
    FROM c12 JOIN c1 USING (w1) JOIN bw USING (w2) CROSS JOIN nbi
    WHERE c12.c12 >= 3
    """,
)
def q646(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities with D = 0.75 over
    the documents corpus (operators/text.kneser_ney_bigram), rows with
    bigram count ≥ 3.  All smoothing components are exact BIGINTs; p_kn
    is a fixed float tree — bit-identical cross-engine."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    return _tx.kneser_ney_bigram(d, discount=0.75, min_count=3)


# ------------------------------------------------------------------ q647
@query(
    "q647_vocab_coverage",
    f"""
    WITH {_VOCAB_PRELUDE},
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts
    ),
    cum AS (
        SELECT rank, CAST(sum(n) OVER (ORDER BY rank) AS BIGINT) AS cumn
        FROM ranked
    ),
    stats AS (
        SELECT CAST(max(rank) AS BIGINT) AS vmax,
               (SELECT CAST(sum(n) AS BIGINT) FROM counts) AS total
        FROM ranked
    ),
    ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (100), (1000), (10000)) v(k)),
    sel AS (
        SELECT k, least(k, stats.vmax) AS rank_used, stats.total
        FROM ks CROSS JOIN stats
    )
    SELECT k, CAST(rank_used AS BIGINT) AS rank_used,
           cum.cumn AS covered_tokens, total AS total_tokens,
           CAST(cum.cumn AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
    FROM sel JOIN cum ON sel.rank_used = cum.rank
    """,
)
def q647(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary coverage curve at k = 100 / 1k / 10k types
    (operators/text.vocab_coverage) — share of all corpus tokens the
    top-k types cover; integer window cumsum over the aggregated
    vocabulary, one exact divide per row."""
    from .operators import text as _tx

    d = load_table(spark, sf, "documents")
    return _tx.vocab_coverage(d, ks=(100, 1000, 10000))


# ------------------------------------------------------------------ q648
@query(
    "q648_tf_jaccard",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents WHERE doc_id < 100
    ),
    t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, tok),
    sizes AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS sz FROM tf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS w_shared
        FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, w_shared, sa.sz AS size_a, sb.sz AS size_b,
           CAST(w_shared AS DOUBLE) / CAST(sa.sz + sb.sz - w_shared AS DOUBLE) AS w_jaccard
    FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
               JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE CAST(w_shared AS DOUBLE) / CAST(sa.sz + sb.sz - w_shared AS DOUBLE)
          >= CAST('0.6' AS DOUBLE)
    """,
)
def q648(spark: SparkSession, sf: str) -> DataFrame:
    """Term-frequency-weighted Jaccard near-dup pairs, doc_id < 100,
    threshold 0.6 (operators/dedup.tf_jaccard_pairs) — the multiset
    Jaccard that keeps discriminating on templated corpora where set
    Jaccard saturates.  Integer min/max identity Σmax = S_A+S_B−Σmin;
    one exact divide."""
    from .operators import dedup

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    return dedup.tf_jaccard_pairs(d, "text", "doc_id", threshold=0.6)


# ------------------------------------------------------------------ q649
@query(
    "q649_containment",
    r"""
    WITH base AS (
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        FROM documents WHERE doc_id < 150
    ),
    -- planted positives (ORACLES rule 28): a 12-token "quote" of every
    -- doc_id < 50 is embedded verbatim in its source, so containment
    -- pairs with C = 1 exist at EVERY sf (natural near-embeddings
    -- vanish at sf0.1)
    docs AS (
        SELECT doc_id, w FROM base
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, w[1:12] AS w
        FROM base WHERE doc_id < 50
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 1) + 1),
                   i -> array_to_string(w[i:i+2], ' ')))) AS s
        FROM docs
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared, sa.sz AS size_a,
           CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
    FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
    WHERE CAST(n_shared AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= CAST('0.8' AS DOUBLE)
    """,
)
def q649(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram containment pairs C(A,B) = |A∩B|/|A| ≥ 0.8 over trigram
    shingles, doc_id < 150 (operators/dedup.containment_pairs) —
    Broder's asymmetric similarity: finds documents EMBEDDED in larger
    ones, which resemblance-based dedup misses.  A 12-token quote of
    every doc_id < 50 is planted (union) so C = 1 positives exist at
    every sf.  Exact BIGINT counts, one divide."""
    from .operators import dedup
    from .operators.dedup import normalize_text

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 150)
    toks = F.split(normalize_text(F.col("text")), " ")
    quotes = d.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 12), " ").alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(quotes)
    return dedup.containment_pairs(both, "text", "doc_id", n=3, threshold=0.8)


# ------------------------------------------------------------------ q650
@query(
    "q650_cl_diversity",
    """
    WITH counts AS (
        SELECT o_custkey % 100 AS qi_bucket, o_orderpriority AS qi_priority,
               o_orderstatus AS s, CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT qi_bucket, qi_priority, s, c,
               row_number() OVER (PARTITION BY qi_bucket, qi_priority
                                  ORDER BY c DESC, s) AS rk
        FROM counts
    ),
    per AS (
        SELECT qi_bucket, qi_priority,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS l_distinct,
               CAST(max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS r1,
               CAST(coalesce(sum(CASE WHEN rk >= 2 THEN c END), 0) AS BIGINT)
                 AS tail_from_l,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
        FROM ranked GROUP BY 1, 2
    )
    SELECT qi_bucket, qi_priority, n, l_distinct, r1, tail_from_l,
           r1 < 2 * tail_from_l AS cl_diverse,
           round(ln(CAST(n AS DOUBLE)) - clnc / CAST(n AS DOUBLE), 6) AS entropy
    FROM per
    """,
)
def q650(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive (c=2, l=2)-diversity audit of (custkey bucket,
    priority) classes with o_orderstatus as the sensitive attribute
    (operators/profile.recursive_cl_diversity) — the integer-exact
    dominance test distinct-l misses (one value holding 99% of a class
    passes distinct-l, fails (c,l)); entropy reported alongside,
    rounded per the ln ulp rule (ORACLES rule 5)."""
    from .operators import profile as prof

    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 100).alias("qi_bucket"),
        F.col("o_orderpriority").alias("qi_priority"),
        "o_orderstatus",
    )
    return prof.recursive_cl_diversity(
        o, ["qi_bucket", "qi_priority"], "o_orderstatus", l=2, c=2
    )


# ------------------------------------------------------------------ q651
@query(
    "q651_epoch_allocation",
    """
    WITH d AS (
        SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS available,
               CAST((CAST(substr(source, 4) AS INT) % 5) * 5 + 10 AS BIGINT) AS weight
        FROM documents GROUP BY source
    ),
    caps AS (
        SELECT domain, available, weight,
               CAST(4 * available AS BIGINT) AS cap,
               CAST(4 * available AS BIGINT) * (300 // weight) AS key
        FROM d
    ),
    ord AS (
        SELECT *,
            CAST(coalesce(sum(cap) OVER (ORDER BY key, domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pcap,
            CAST(coalesce(sum(weight) OVER (ORDER BY key, domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pw,
            CAST(sum(cap) OVER () AS BIGINT) AS allcap,
            CAST(sum(weight) OVER () AS BIGINT) AS allw
        FROM caps
    ),
    st AS (
        SELECT *, (allcap * 2) // 3 AS spend,
               cap * (allw - pw) <= ((allcap * 2) // 3 - pcap) * weight AS saturated
        FROM ord
    ),
    agg AS (
        SELECT CAST(coalesce(sum(CASE WHEN saturated THEN cap END), 0) AS BIGINT) AS scap,
               CAST(coalesce(sum(CASE WHEN saturated THEN weight END), 0) AS BIGINT) AS sw
        FROM st
    ),
    f2 AS (
        SELECT st.*, spend - agg.scap AS rb, allw - agg.sw AS rw
        FROM st CROSS JOIN agg
    ),
    f3 AS (
        SELECT *,
               CASE WHEN saturated THEN cap ELSE (rb * weight) // rw END AS fl,
               CASE WHEN saturated THEN 0 ELSE (rb * weight) % rw END AS rem
        FROM f2
    ),
    f4 AS (
        SELECT *, CAST(spend - sum(fl) OVER () AS BIGINT) AS short,
               row_number() OVER (ORDER BY rem DESC, domain) AS rk
        FROM f3
    ),
    f5 AS (
        SELECT *, CAST(fl + CASE WHEN NOT saturated AND rk <= short
                                 THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        FROM f4
    )
    SELECT domain, available, weight, cap AS capacity, saturated, alloc_tokens,
           CAST((alloc_tokens * 1000000) // available AS BIGINT) AS epochs_ppm
    FROM f5
    """,
)
def q651(spark: SparkSession, sf: str) -> DataFrame:
    """Data-constrained epoch allocation over the 20 corpus sources
    (operators/pipeline.epoch_allocation): exact water-filling of 2/3
    of the total 4-epoch capacity across source-derived mixture weights
    {10..30}; saturated domains give their surplus to the rest, floor
    shares settle by largest remainder — all BIGINT, the ratio sort
    uses the exact cap·(L/w) integer key (L = 300)."""
    from .operators.pipeline import epoch_allocation

    d = (
        load_table(spark, sf, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(F.sum("n_chars").cast("long").alias("available"))
        .withColumn(
            "weight",
            ((F.expr("CAST(substring(domain, 4) AS INT)") % 5) * 5 + 10).cast("long"),
        )
    )
    return epoch_allocation(
        d, "domain", "available", "weight",
        budget_ratio=(2, 3), max_epochs=4, weight_scale=300,
    )


# ------------------------------------------------------------------ q652
def _q652_oracle() -> str:
    from .queries import ORACLES

    # compose the registered q633 pipeline (oracle side) with the q651
    # allocation chain over POST-CLEANING availability — the q578/q600
    # composition pattern: both engines run the same two pipelines
    return f"""
    WITH clean AS ({ORACLES["q633_winnow_boilerplate_removal"]}),
    d AS (
        SELECT doc.source AS domain,
               CAST(sum(clean.n_before - clean.n_removed) AS BIGINT) AS available,
               CAST((CAST(substr(doc.source, 4) AS INT) % 5) * 5 + 10 AS BIGINT) AS weight
        FROM clean JOIN documents doc USING (doc_id)
        GROUP BY doc.source
    ),
    caps AS (
        SELECT domain, available, weight,
               CAST(4 * available AS BIGINT) AS cap,
               CAST(4 * available AS BIGINT) * (300 // weight) AS key
        FROM d
    ),
    ord AS (
        SELECT *,
            CAST(coalesce(sum(cap) OVER (ORDER BY key, domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pcap,
            CAST(coalesce(sum(weight) OVER (ORDER BY key, domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pw,
            CAST(sum(cap) OVER () AS BIGINT) AS allcap,
            CAST(sum(weight) OVER () AS BIGINT) AS allw
        FROM caps
    ),
    st AS (
        SELECT *, (allcap * 2) // 3 AS spend,
               cap * (allw - pw) <= ((allcap * 2) // 3 - pcap) * weight AS saturated
        FROM ord
    ),
    agg AS (
        SELECT CAST(coalesce(sum(CASE WHEN saturated THEN cap END), 0) AS BIGINT) AS scap,
               CAST(coalesce(sum(CASE WHEN saturated THEN weight END), 0) AS BIGINT) AS sw
        FROM st
    ),
    f2 AS (
        SELECT st.*, spend - agg.scap AS rb, allw - agg.sw AS rw
        FROM st CROSS JOIN agg
    ),
    f3 AS (
        SELECT *,
               CASE WHEN saturated THEN cap ELSE (rb * weight) // rw END AS fl,
               CASE WHEN saturated THEN 0 ELSE (rb * weight) % rw END AS rem
        FROM f2
    ),
    f4 AS (
        SELECT *, CAST(spend - sum(fl) OVER () AS BIGINT) AS short,
               row_number() OVER (ORDER BY rem DESC, domain) AS rk
        FROM f3
    ),
    f5 AS (
        SELECT *, CAST(fl + CASE WHEN NOT saturated AND rk <= short
                                 THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        FROM f4
    )
    SELECT domain, available, weight, cap AS capacity, saturated, alloc_tokens,
           CAST((alloc_tokens * 1000000) // available AS BIGINT) AS epochs_ppm
    FROM f5
    """


@query("q652_corpus_plan", _q652_oracle())
def q652(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus planning: availability is the POST-CLEANING
    token count from the registered winnow boilerplate-removal pipeline
    (q633, ~9% of tokens cut), rolled up per source and fed into the
    exact epoch-capped water-filling allocator (q651's operator) — the
    two round-5 capabilities composed, both engines running the same
    two registered pipelines (the q578/q600 composition pattern)."""
    from .operators.pipeline import epoch_allocation
    from .queries import QUERIES

    clean = QUERIES["q633_winnow_boilerplate_removal"](spark, sf)
    src = load_table(spark, sf, "documents").select("doc_id", "source")
    d = (
        clean.join(src, "doc_id")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.sum(F.col("n_before") - F.col("n_removed")).cast("long").alias("available")
        )
        .withColumn(
            "weight",
            ((F.expr("CAST(substring(domain, 4) AS INT)") % 5) * 5 + 10).cast("long"),
        )
    )
    return epoch_allocation(
        d, "domain", "available", "weight",
        budget_ratio=(2, 3), max_epochs=4, weight_scale=300,
    )


# ------------------------------------------------------------------ q653
@query(
    "q653_packing_efficiency",
    """
    WITH packed AS (
        SELECT grp, toks,
               floor(coalesce(sum(toks) OVER (PARTITION BY grp ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)::BIGINT AS bin
        FROM (
            SELECT doc_id, doc_id % 16 AS grp,
                   CASE WHEN trim(text) = '' THEN 0 ELSE
                   len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
                   END AS toks
            FROM documents
        )
    ),
    per_bin AS (
        SELECT grp, bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(toks) AS BIGINT) AS t
        FROM packed GROUP BY grp, bin
    )
    SELECT grp, CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS total_tokens,
           CAST((sum(t) * 1000000) // (count(*) * 512) AS BIGINT) AS mean_fill_ppm,
           CAST(sum(CASE WHEN t > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
           CAST(min(t) AS BIGINT) AS min_bin_tokens,
           CAST(max(t) AS BIGINT) AS max_bin_tokens
    FROM per_bin GROUP BY grp
    """,
)
def q653(spark: SparkSession, sf: str) -> DataFrame:
    """Fill-rate audit of the q134 packing run
    (operators/pipeline.packing_efficiency): per shard group the bin
    count, exact integer mean fill (ppm of the 512 budget), overflow
    bin count (contiguous packing overshoots by at most the last doc),
    and min/max bin fills — the report that chooses the bin budget."""
    from .operators import text as tx
    from .operators.pipeline import pack_sequences, packing_efficiency

    d = load_table(spark, sf, "documents")
    base = d.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("grp"),
        tx.token_count(F.col("text")).alias("toks"),
    )
    packed = pack_sequences(base, ["grp"], "doc_id", "toks", budget=512)
    return packing_efficiency(packed, ["grp"], "toks", budget=512)
