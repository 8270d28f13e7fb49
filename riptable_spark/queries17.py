"""Driver-contract query registry, batch 17 (round 4, q631+):
winnowing fingerprint sketches and the continuing analytics surface.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table

_WINNOW_K, _WINNOW_W = 8, 4

# shared oracle prelude: tokenized docs → k-gram md5-60bit hash lists →
# winnowing selection (rightmost min of each w-window of hashes),
# exactly the Spark operator's expression tree in DuckDB list algebra
_WINNOW_SEL = f"""
    d AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                            ' ') AS t
        FROM documents
    ),
    s AS (
        SELECT doc_id, t, len(t) AS n FROM d
        WHERE len(t) >= {_WINNOW_K + _WINNOW_W - 1}
    ),
    hs AS (
        SELECT doc_id, n,
               list_transform(range(0, n - {_WINNOW_K} + 1), i ->
                   CAST(('0x' || substr(md5(array_to_string(
                       t[i + 1 : i + {_WINNOW_K}], ' ')), 1, 15)) AS BIGINT)) AS h
        FROM s
    ),
    sel AS (
        SELECT doc_id, n,
               list_transform(range(0, len(h) - {_WINNOW_W} + 1), j ->
                   {{'pos': j + {_WINNOW_W}
                            - list_position(list_reverse(h[j + 1 : j + {_WINNOW_W}]),
                                            list_aggregate(h[j + 1 : j + {_WINNOW_W}], 'min')),
                     'fp': list_aggregate(h[j + 1 : j + {_WINNOW_W}], 'min')}}) AS sels
        FROM hs
    ),
    fps AS (SELECT DISTINCT doc_id, n, pos, fp FROM (
        SELECT doc_id, n, unnest(sels, recursive := true) FROM sel))
"""


# ------------------------------------------------------------------ q631
@query(
    "q631_winnow_matches",
    # Full SQL replay of the winnowing sketch + cross-doc match join:
    # DuckDB list algebra reproduces the k-gram hashing (portable
    # md5-60bit), the rightmost-min w-window selection, and the
    # fingerprint-keyed match count — the whole pipeline hash-checks.
    f"""
    WITH {_WINNOW_SEL},
    counts AS (
        SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT c.fp, f.doc_id, CAST(f.pos AS BIGINT) AS pos, c.n_docs
    FROM fps f JOIN counts c USING (fp)
    """,
)
def q631(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document shared-span candidates via the winnowing sketch
    (operators/dedup.winnow_matches — Schleimer et al., SIGMOD'03):
    ~2/(w+1) of full span density with a guaranteed hit on any shared
    run of ≥ w+k−1 tokens; one shuffle keyed on the 8-byte
    fingerprint."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    return dedup.winnow_matches(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W, hash_kind="md5"
    )


# ------------------------------------------------------------------ q632
@query(
    "q632_winnow_density",
    # The sketch's measured selectivity per document vs the 2/(w+1)
    # winnowing expectation — the approximation-audit pattern (compare
    # what the sketch DID to what the theory promises), replayed by the
    # same list-algebra selection.
    f"""
    WITH {_WINNOW_SEL},
    per AS (
        SELECT doc_id,
               CAST(max(n) - {_WINNOW_K} + 1 AS BIGINT) AS n_kgrams,
               CAST(count(*) AS BIGINT) AS n_selected
        FROM fps GROUP BY doc_id
    )
    SELECT doc_id, n_kgrams, n_selected,
           CAST(n_selected AS DOUBLE) / n_kgrams AS density,
           CAST(2.0 AS DOUBLE) / {_WINNOW_W + 1} AS expected_density
    FROM per
    """,
)
def q632(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing sketch density audit per document: selected
    fingerprints over total k-grams against the theoretical 2/(w+1)
    expectation — n_selected/n_kgrams is one exact integer ratio, so
    the lone divide is engine-identical."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    fps = dedup.winnow_fingerprints(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W, hash_kind="md5"
    )
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    base = docs.select(
        "doc_id", (F.size(toks) - _WINNOW_K + 1).cast("long").alias("n_kgrams")
    ).where(F.col("n_kgrams") >= _WINNOW_W)
    per = fps.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_selected"))
    return base.join(per, "doc_id").select(
        "doc_id", "n_kgrams", "n_selected",
        (F.col("n_selected").cast("double") / F.col("n_kgrams")).alias("density"),
        (F.lit(2.0) / F.lit(_WINNOW_W + 1)).alias("expected_density"),
    )


# ------------------------------------------------------------------ q633
@query(
    "q633_winnow_boilerplate_removal",
    # End-to-end replay of the sketch-driven removal PIPELINE: sketch
    # selection -> cross-doc match -> position coverage -> index-filtered
    # text rebuild, all in DuckDB list algebra; the cleaned TEXT itself
    # hash-checks, so the whole composition is pinned, not just counts.
    f"""
    WITH {_WINNOW_SEL},
    counts AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT f.doc_id,
               list_distinct(flatten(list(range(f.pos, f.pos + {_WINNOW_K})))) AS cv
        FROM fps f JOIN counts c USING (fp)
        GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.t) AS BIGINT) AS n_before,
           CAST(COALESCE(len(c.cv), 0) AS BIGINT) AS n_removed,
           COALESCE(array_to_string(
               list_filter(d.t, (x, i) ->
                   NOT list_contains(COALESCE(c.cv, []), i - 1)), ' '), '')
               AS text_clean
    FROM d LEFT JOIN cov c USING (doc_id)
    """,
)
def q633(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-driven boilerplate removal over the documents corpus
    (operators/dedup.remove_winnowed_spans): winnow -> match -> cut
    covered tokens — the cleaned text is hash-compared byte-for-byte
    against the SQL replay of the full pipeline."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    return dedup.remove_winnowed_spans(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W, min_docs=2,
        hash_kind="md5",
    )


# ------------------------------------------------------------------ q634
_Q634_SUFFIX_SQL = (
    "' nfc:cafe' || chr(769) || ' caf' || chr(233) || ' ' || chr(4352) || chr(4449)"
)


@query(
    "q634_nfc_normalize",
    # Deterministic composed/decomposed forms are INJECTED identically on
    # both sides (combining acute, precomposed e-acute, Hangul jamo pair)
    # so the normalizer's behavior — not just ASCII pass-through — is
    # what hash-checks: CPython's unicodedata vs DuckDB's utf8proc must
    # produce byte-identical NFC strings and codepoint counts.
    f"""
    SELECT doc_id,
           CAST(length(text || {_Q634_SUFFIX_SQL}) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(text || {_Q634_SUFFIX_SQL})) AS BIGINT)
               AS len_after,
           nfc_normalize(text || {_Q634_SUFFIX_SQL}) AS text_nfc
    FROM documents
    """,
)
def q634(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC normalization (operators/text.normalize_nfc) over the
    documents corpus with injected decomposed sequences: é as e+U+0301
    composes, precomposed é passes through, Hangul jamo U+1100 U+1161
    compose to U+AC00 — lengths shrink accordingly and the normalized
    text hash-checks byte-for-byte."""
    from .operators import text as tx

    suffix = " nfc:café café 가"
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(suffix)).alias("__raw__")
    )
    out = tx.normalize_nfc(docs, "__raw__", "text_nfc")
    return out.select(
        "doc_id",
        F.length("__raw__").cast("long").alias("len_before"),
        F.length("text_nfc").cast("long").alias("len_after"),
        "text_nfc",
    )


# ------------------------------------------------------------------ q635
@query(
    "q635_winnow_shared_runs",
    # The pair self-join on fingerprints + diagonal chaining replay —
    # all-integer aggregation over the same list-algebra sketch.
    f"""
    WITH {_WINNOW_SEL},
    counts AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50
    ),
    fp2 AS (SELECT f.doc_id, f.pos, f.fp FROM fps f JOIN counts USING (fp)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM fp2 a JOIN fp2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(pa - pb AS BIGINT) AS diag,
           CAST(min(pa) AS BIGINT) AS start_a,
           CAST(min(pa) - (pa - pb) AS BIGINT) AS start_b,
           CAST(max(pa) - min(pa) + {_WINNOW_K} AS BIGINT) AS run_len,
           CAST(count(*) AS BIGINT) AS n_anchors
    FROM pairs GROUP BY id_a, id_b, pa - pb
    HAVING count(*) >= 2
    """,
)
def q635(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS-style shared-run reporting over the documents corpus
    (operators/dedup.winnow_shared_runs): matched fingerprints chain
    along aligned diagonals (pos_a − pos_b) into per-pair run spans —
    integer-exact, token arrays never shuffle."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    return dedup.winnow_shared_runs(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W,
        max_docs=50, min_anchors=2, hash_kind="md5",
    )


# ------------------------------------------------------------------ q636
@query(
    "q636_winnow_verified_runs",
    # Replay of candidate generation + the exact token-level verify and
    # maximal extension: DuckDB indexes the token lists directly where
    # Spark zips slices — same booleans, same first-mismatch positions,
    # exact integers throughout.
    f"""
    WITH {_WINNOW_SEL},
    counts AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50
    ),
    fp2 AS (SELECT f.doc_id, f.pos, f.fp FROM fps f JOIN counts USING (fp)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM fp2 a JOIN fp2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT id_a, id_b, CAST(pa - pb AS BIGINT) AS diag,
               CAST(min(pa) AS BIGINT) AS start_a,
               CAST(min(pa) - (pa - pb) AS BIGINT) AS start_b,
               CAST(max(pa) - min(pa) + {_WINNOW_K} AS BIGINT) AS run_len,
               CAST(count(*) AS BIGINT) AS n_anchors
        FROM pairs GROUP BY id_a, id_b, pa - pb
        HAVING count(*) >= 2
    ),
    joined AS (
        SELECT r.*, da.t AS ta, db.t AS tb,
               len(da.t) AS na, len(db.t) AS nb
        FROM runs r
        JOIN d da ON da.doc_id = r.id_a
        JOIN d db ON db.doc_id = r.id_b
    ),
    verified AS (
        SELECT *,
               COALESCE(list_position(list_transform(range(1, run_len + 1),
                   i -> ta[start_a + i] = tb[start_b + i]), false), 0) AS ff_run,
               least(start_a, start_b) AS pre_m,
               least(na - (start_a + run_len), nb - (start_b + run_len)) AS suf_m
        FROM joined
    ),
    ext AS (
        SELECT *,
               (ff_run = 0) AS run_exact,
               COALESCE(list_position(list_transform(range(1, pre_m + 1),
                   i -> ta[start_a + 1 - i] = tb[start_b + 1 - i]), false), 0)
                   AS ff_pre,
               COALESCE(list_position(list_transform(range(1, suf_m + 1),
                   i -> ta[start_a + run_len + i] = tb[start_b + run_len + i]),
                   false), 0) AS ff_suf
        FROM verified
    )
    SELECT id_a, id_b, diag, start_a, start_b, run_len, n_anchors, run_exact,
           CAST(CASE WHEN run_exact THEN start_a
                     - (CASE WHEN ff_pre = 0 THEN pre_m ELSE ff_pre - 1 END)
                ELSE start_a END AS BIGINT) AS true_start_a,
           CAST(CASE WHEN run_exact THEN run_len
                     + (CASE WHEN ff_pre = 0 THEN pre_m ELSE ff_pre - 1 END)
                     + (CASE WHEN ff_suf = 0 THEN suf_m ELSE ff_suf - 1 END)
                ELSE run_len END AS BIGINT) AS true_len
    FROM ext
    """,
)
def q636(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing candidates verified exactly (operators/dedup.
    winnow_verify_runs): the claimed span is tested token-by-token and
    extended to the true maximal shared run — candidate-bounded array
    joins only, the generate→verify contract of every sketch family
    here."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    return dedup.winnow_verify_runs(
        docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W,
        max_docs=50, min_anchors=2, hash_kind="md5",
    )


# ------------------------------------------------------------------ q637
@query(
    "q637_winnow_incremental",
    # The ingestion split (even doc_ids = yesterday's corpus -> index,
    # odd = today's batch) replays exactly: the seen-index DISTINCT, the
    # fp hit-join, and the per-doc hit counting are one SQL pipeline.
    f"""
    WITH {_WINNOW_SEL},
    seen AS (
        SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0
    ),
    newfps AS (
        SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 1
    ),
    per AS (
        SELECT n.doc_id,
               CAST(count(*) AS BIGINT) AS n_fps,
               CAST(count(s.fp) AS BIGINT) AS n_hits
        FROM newfps n LEFT JOIN seen s ON s.fp = n.fp
        GROUP BY n.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_fps, 0) AS n_fps,
           COALESCE(p.n_hits, 0) AS n_hits,
           COALESCE(p.n_hits, 0) >= 2 AS is_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
)
def q637(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental span-level dup screening (operators/dedup.
    winnow_incremental): odd-id documents screened against the
    winnow_index of even-id documents — the historical corpus never
    re-read, only its 8-byte fingerprints."""
    from .operators import dedup

    docs = load_table(spark, sf, "documents")
    seen = dedup.winnow_index(
        docs.where(F.col("doc_id") % 2 == 0), "text", "doc_id",
        k=_WINNOW_K, w=_WINNOW_W, hash_kind="md5",
    )
    return dedup.winnow_incremental(
        docs.where(F.col("doc_id") % 2 == 1), seen, "text", "doc_id",
        k=_WINNOW_K, w=_WINNOW_W, min_hits=2, hash_kind="md5",
    )


# ------------------------------------------------------------------ q638
@query(
    "q638_stream_winnow_screen",
    # Same even/odd split as q637, but through the STREAMING codepath's
    # shape (fp hit-join + per-doc streaming agg; short docs absent by
    # contract — the stream cannot self-join its own aggregate).
    f"""
    WITH {_WINNOW_SEL},
    seen AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    newfps AS (SELECT doc_id, fp FROM fps WHERE doc_id % 2 = 1)
    SELECT n.doc_id,
           CAST(count(*) AS BIGINT) AS n_fps,
           CAST(count(s.fp) AS BIGINT) AS n_hits,
           count(s.fp) >= 2 AS is_dup
    FROM newfps n LEFT JOIN seen s ON s.fp = n.fp
    GROUP BY n.doc_id
    """,
)
def q638(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming span-level dup screen (streaming/windows.
    stream_winnow_screen) run on a batch frame — the identical
    transformation a real readStream executes (pinned against an
    actual availableNow drain in tests/test_batch20_ops.py)."""
    from .operators import dedup
    from .streaming.windows import stream_winnow_screen

    docs = load_table(spark, sf, "documents")
    seen = dedup.winnow_index(
        docs.where(F.col("doc_id") % 2 == 0), "text", "doc_id",
        k=_WINNOW_K, w=_WINNOW_W, hash_kind="md5",
    )
    return stream_winnow_screen(
        docs.where(F.col("doc_id") % 2 == 1), seen,
        k=_WINNOW_K, w=_WINNOW_W, min_hits=2, hash_kind="md5",
    )


# ------------------------------------------------------------------ q639
_Q639_RK = "\n".join(
    f"""           CAST(n * n * sxy{k} - n * sx * (sh{k} + st{k})
                + (n - {k}) * sx * sx AS DOUBLE)
               / CAST(n * (n * sxx - sx * sx) AS DOUBLE) AS r{k},"""
    for k in range(1, 6)
)


@query(
    "q639_acf_ljung_box",
    # Exact-BIGINT lagged moments (lead windows over the per-key order)
    # assemble each autocorrelation as one divide; the Ljung-Box Q is
    # the identical fixed left-associated chain over the r_k doubles.
    f"""
    WITH f AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) % 100 AS x
        FROM events
    ),
    l AS (
        SELECT event_type, x,
               {", ".join(f"lead(x, {k}) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS l{k}" for k in range(1, 6))}
        FROM f
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               {", ".join(
                   f"CAST(sum(x * l{k}) AS BIGINT) AS sxy{k}, "
                   f"CAST(sum(CASE WHEN l{k} IS NOT NULL THEN x END) AS BIGINT) AS sh{k}, "
                   f"CAST(sum(l{k}) AS BIGINT) AS st{k}" for k in range(1, 6))}
        FROM l GROUP BY event_type
    ),
    r AS (
        SELECT event_type, n,
{_Q639_RK}
               0 AS __pad__
        FROM m
    )
    SELECT event_type, n, r1, r2, r3, r4, r5,
           CAST(n * (n + 2) AS DOUBLE)
               * (r1 * r1 / CAST(n - 1 AS DOUBLE)
                  + r2 * r2 / CAST(n - 2 AS DOUBLE)
                  + r3 * r3 / CAST(n - 3 AS DOUBLE)
                  + r4 * r4 / CAST(n - 4 AS DOUBLE)
                  + r5 * r5 / CAST(n - 5 AS DOUBLE)) AS q_stat
    FROM r
    """,
)
def q639(spark: SparkSession, sf: str) -> DataFrame:
    """ACF r_1..r_5 + Ljung-Box whiteness statistic per event-type
    series (functions/stats.acf_ljung_box) on the integer cent
    residuals — exact lagged moments, one divide per lag."""
    from .functions.stats import acf_ljung_box

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select("event_type", "ts", "event_id", (cents % 100).alias("x"))
    return acf_ljung_box(d, ["event_type"], "x", ["ts", "event_id"], max_lag=5)


# ------------------------------------------------------------------ q640
@query(
    "q640_page_hinkley",
    # n-scaled integer prefix deviations + exact running min; the alarm
    # threshold cross-multiplies, the reported deviation divides once.
    """
    WITH f AS (
        SELECT event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) % 100 AS x
        FROM events
    ),
    m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx
        FROM f GROUP BY event_type
    ),
    w AS (
        SELECT f.event_type, m.n,
               CAST(row_number() OVER (PARTITION BY f.event_type
                                       ORDER BY ts, event_id) AS BIGINT) AS t,
               m.n * CAST(sum(x) OVER (PARTITION BY f.event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 - CAST(row_number() OVER (PARTITION BY f.event_type
                                           ORDER BY ts, event_id) AS BIGINT)
                   * (m.sx + m.n * 0) AS mt
        FROM f JOIN m ON m.event_type = f.event_type
    ),
    d AS (
        SELECT event_type, n, t,
               mt - min(mt) OVER (PARTITION BY event_type ORDER BY t
                                  ROWS UNBOUNDED PRECEDING) AS dev
        FROM w
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN dev > n * 300 THEN t END) AS BIGINT)
               AS first_alarm_pos,
           CAST(max(dev) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS max_dev
    FROM d GROUP BY event_type
    """,
)
def q640(spark: SparkSession, sf: str) -> DataFrame:
    """Page-Hinkley mean-shift detector per event-type series
    (operators/window.page_hinkley, δ=0, λ=300 value units (alarms fire mid-series at every SF; two sf0.001 series never alarm — the NULL path is exercised)) — the
    one-sided sequential sibling of the CUSUM locator (q216), exact
    integer prefix state."""
    from .operators.window import page_hinkley

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select("event_type", "ts", "event_id", (cents % 100).alias("x"))
    return page_hinkley(d, "event_type", ["ts", "event_id"], "x", delta=0, lam=300)


# ------------------------------------------------------------------ q641
@query(
    "q641_cooks_distance",
    # Per-row influence from exact per-key BIGINT moments; every double
    # mirrors the Spark expression tree term for term.
    """
    WITH f AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) % 100 AS x,
               (CAST(round(value * 100) AS BIGINT) % 100) * 3
                 + CAST(round(value * 100) AS BIGINT) % 13 AS y
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM f GROUP BY event_type
    ),
    j AS (
        SELECT f.event_type, f.event_id, f.x, f.y, m.n,
               CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) AS sxx_c,
               CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) AS sxy_c,
               CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE) AS syy_c,
               CAST(m.n * f.x - m.sx AS DOUBLE) AS dx,
               CAST(m.n * f.y - m.sy AS DOUBLE) AS dy
        FROM f JOIN m ON m.event_type = f.event_type
    ),
    e AS (
        SELECT event_type, event_id, x, y, n,
               sxy_c / sxx_c AS b1,
               (dy - (sxy_c / sxx_c) * dx) / CAST(n AS DOUBLE) AS residual,
               CAST('1.0' AS DOUBLE) / CAST(n AS DOUBLE)
                 + (dx * dx) / (CAST(n AS DOUBLE) * sxx_c) AS leverage,
               (syy_c - (sxy_c / sxx_c) * sxy_c) / CAST(n AS DOUBLE) AS sse
        FROM j
    )
    SELECT event_type, event_id, x, y, residual, leverage,
           (residual * residual) * leverage
             / (CAST('2.0' AS DOUBLE) * (sse / CAST(n - 2 AS DOUBLE))
                * (CAST('1.0' AS DOUBLE) - leverage)
                * (CAST('1.0' AS DOUBLE) - leverage)) AS cooks_d
    FROM e
    """,
)
def q641(spark: SparkSession, sf: str) -> DataFrame:
    """Cook's distance / leverage / residual per point for y ~ x per
    event type (functions/stats.cooks_distance) on a synthetic
    confounded pair — per-row regression influence diagnostics from
    exact BIGINT moments."""
    from .functions.stats import cooks_distance

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type", "event_id",
        (cents % 100).alias("x"),
        ((cents % 100) * 3 + cents % 13).alias("y"),
    )
    return cooks_distance(d, ["event_type"], "x", "y", ["event_id"])


# ------------------------------------------------------------------ q642
@query(
    "q642_crps_ensemble",
    # Each case's 2m·Σ|x−y| − ΣΣ|x−x'| bracket is exact BIGINT; the
    # group mean is one divide by 2m²·n.
    """
    WITH f AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) % 50 AS y,
               CAST(round(value * 100) AS BIGINT) % 50 + event_id % 7 - 3 AS e1,
               CAST(round(value * 100) AS BIGINT) % 50 + (event_id * 3) % 9 - 4 AS e2,
               CAST(round(value * 100) AS BIGINT) % 50 + (event_id * 5) % 11 - 5 AS e3,
               CAST(round(value * 100) AS BIGINT) % 50 + (event_id * 7) % 13 - 6 AS e4,
               CAST(round(value * 100) AS BIGINT) % 50 + (event_id * 11) % 15 - 7 AS e5
        FROM events
    ),
    b AS (
        SELECT event_type,
               10 * (abs(e1 - y) + abs(e2 - y) + abs(e3 - y) + abs(e4 - y)
                     + abs(e5 - y))
               - (abs(e1-e1)+abs(e1-e2)+abs(e1-e3)+abs(e1-e4)+abs(e1-e5)
                  +abs(e2-e1)+abs(e2-e2)+abs(e2-e3)+abs(e2-e4)+abs(e2-e5)
                  +abs(e3-e1)+abs(e3-e2)+abs(e3-e3)+abs(e3-e4)+abs(e3-e5)
                  +abs(e4-e1)+abs(e4-e2)+abs(e4-e3)+abs(e4-e4)+abs(e4-e5)
                  +abs(e5-e1)+abs(e5-e2)+abs(e5-e3)+abs(e5-e4)+abs(e5-e5))
                 AS bracket
        FROM f
    )
    SELECT event_type, CAST(count(bracket) AS BIGINT) AS n,
           CAST(sum(bracket) AS DOUBLE)
               / CAST(50 * count(bracket) AS DOUBLE) AS crps
    FROM b GROUP BY event_type
    """,
)
def q642(spark: SparkSession, sf: str) -> DataFrame:
    """CRPS of a deterministic 5-member synthetic ensemble against the
    cent-residual observation, per event type
    (functions/stats.crps_ensemble) — the proper scoring rule
    completing the brier/pinball family, exact integer brackets."""
    from .functions.stats import crps_ensemble

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type",
        (cents % 50).alias("y"),
        (cents % 50 + F.col("event_id") % 7 - 3).alias("e1"),
        (cents % 50 + (F.col("event_id") * 3) % 9 - 4).alias("e2"),
        (cents % 50 + (F.col("event_id") * 5) % 11 - 5).alias("e3"),
        (cents % 50 + (F.col("event_id") * 7) % 13 - 6).alias("e4"),
        (cents % 50 + (F.col("event_id") * 11) % 15 - 7).alias("e5"),
    )
    return crps_ensemble(d, ["event_type"], ["e1", "e2", "e3", "e4", "e5"], "y")


# ------------------------------------------------------------------ q643
_Q643_CORR = (
    "CAST(n * s{ij} - s{i} * s{j} AS DOUBLE)"
    " / sqrt(CAST(n * s{ii} - s{i} * s{i} AS DOUBLE)"
    " * CAST(n * s{jj} - s{j} * s{j} AS DOUBLE))"
)
_Q643_R2 = (
    "(r{ij} * r{ij} + r{ik} * r{ik} - crossterm)"
    " / (CAST('1.0' AS DOUBLE) - r{jk} * r{jk})"
)


@query(
    "q643_vif",
    # One exact-BIGINT moment aggregation -> three pairwise correlations
    # -> the closed-form three-variable R-squares -> VIFs; every double
    # mirrors the Spark tree.
    f"""
    WITH f AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) % 100 AS x1,
               event_id % 97 AS x2,
               (CAST(round(value * 100) AS BIGINT) % 100) * 2 + event_id % 97
                 + event_id % 5 AS x3
        FROM events
    ),
    m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
               CAST(sum(x3) AS BIGINT) AS s3,
               CAST(sum(x1 * x1) AS BIGINT) AS s11,
               CAST(sum(x2 * x2) AS BIGINT) AS s22,
               CAST(sum(x3 * x3) AS BIGINT) AS s33,
               CAST(sum(x1 * x2) AS BIGINT) AS s12,
               CAST(sum(x1 * x3) AS BIGINT) AS s13,
               CAST(sum(x2 * x3) AS BIGINT) AS s23
        FROM f GROUP BY event_type
    ),
    r AS (
        SELECT event_type, n,
               {_Q643_CORR.format(ij='12', i='1', j='2', ii='11', jj='22')} AS r12,
               {_Q643_CORR.format(ij='13', i='1', j='3', ii='11', jj='33')} AS r13,
               {_Q643_CORR.format(ij='23', i='2', j='3', ii='22', jj='33')} AS r23
        FROM m
    ),
    rc AS (
        SELECT *, CAST('2.0' AS DOUBLE) * r12 * r13 * r23 AS crossterm FROM r
    )
    SELECT event_type, n, r12, r13, r23,
           CAST('1.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE)
               - {_Q643_R2.format(ij='12', ik='13', jk='23')}) AS vif1,
           CAST('1.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE)
               - {_Q643_R2.format(ij='12', ik='23', jk='13')}) AS vif2,
           CAST('1.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE)
               - {_Q643_R2.format(ij='13', ik='23', jk='12')}) AS vif3
    FROM rc
    """,
)
def q643(spark: SparkSession, sf: str) -> DataFrame:
    """Variance inflation factors (functions/stats.vif3) on a planted
    collinear triple (x3 ≈ 2·x1 + x2 + noise): x1/x2 near-orthogonal →
    VIFs near 1 for the noise-dominated view, x3's VIF large — the
    multicollinearity screen from one exact-moment aggregation."""
    from .functions.stats import vif3

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type",
        (cents % 100).alias("x1"),
        (F.col("event_id") % 97).alias("x2"),
        ((cents % 100) * 2 + F.col("event_id") % 97 + F.col("event_id") % 5).alias("x3"),
    )
    return vif3(d, ["event_type"], "x1", "x2", "x3")
