"""Driver-contract query registry, batch 9 (round 3, continued): REAL
PNG pixel decode (stdlib zlib inflate + unfilter — codec-level, not just
headers) and REAL WAV PCM sample decode, both hash-checked against
arithmetic oracles. Registers into the same QUERIES/ORACLES dicts as
queries.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import multimodal as mm
from .operators import similarity as _sim
from .queries import query
from .queries8 import _PQ_BOOKS, _PQ_M, _pq_sq_chain
from .sources.io import load_table


def _pq_columnar_oracle_sql() -> str:
    """q159's full encode+ADC SQL replay, extended with the per-subspace
    code columns (−128 tinyint offset) that the columnar layout stores —
    a hash match proves the byte-offset round-trip on every retrieved
    row, not just the distances."""
    rows = []
    for j, book in enumerate(_PQ_BOOKS):
        for c, v in enumerate(book):
            lit = "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"
            rows.append(f"({j}, {c}, {lit})")
    values = ",\n      ".join(rows)
    enc_chain = _pq_sq_chain("e.v", "cb.j")
    adc_chain = _pq_sq_chain("q.qv", "b.j")
    d2 = " + ".join(f"sum(CASE WHEN j = {j} THEN dj END)" for j in range(_PQ_M))
    code_cols = ",\n             ".join(
        f"CAST(max(CASE WHEN j = {j} THEN code END) - 128 AS INT) AS c{j}" for j in range(_PQ_M)
    )
    csel = ", ".join(f"bc.c{j}" for j in range(_PQ_M))
    return f"""
    WITH cb(j, code, sub_vec) AS (VALUES
      {values}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    best AS (
      SELECT vec_id, j, code FROM (
        SELECT e.vec_id, cb.j, cb.code,
               row_number() OVER (PARTITION BY e.vec_id, cb.j
                                  ORDER BY {enc_chain}, cb.code) AS rn
        FROM e CROSS JOIN cb
      ) WHERE rn = 1
    ),
    bcodes AS (
      SELECT vec_id,
             {code_cols}
      FROM best GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
    adc_parts AS (
      SELECT q.query_id, b.vec_id, b.j, {adc_chain} AS dj
      FROM best b JOIN cb ON cb.j = b.j AND cb.code = b.code CROSS JOIN q
    ),
    adc AS (
      SELECT query_id, vec_id, {d2} AS d2
      FROM adc_parts GROUP BY query_id, vec_id
    )
    SELECT query_id, r.vec_id, {csel}, round(d2, 6) AS adc_dist, rank FROM (
      SELECT query_id, vec_id, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      FROM adc
    ) r JOIN bcodes bc ON bc.vec_id = r.vec_id
    WHERE rank <= 5
    """


@query("q183_pq_columnar", _pq_columnar_oracle_sql())
def q183(spark: SparkSession, sf: str) -> DataFrame:
    """Columnar PQ codes layout: one TINYINT
    column per subspace (−128 offset) instead of array<int> (4 bytes per
    code) — 1 byte per code on disk/wire, per-subspace Parquet column chunks (dictionary/RLE
    on code runs), and subspace column pruning for free. Encode stays a
    zero-shuffle literal-argmin projection; ADC search reads the byte
    columns with a +128 de-offset. The oracle replays encode + ADC AND
    the offset codes of every retrieved row."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    codes = _sim.pq_encode_columnar(emb, _PQ_BOOKS)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = _sim.pq_search_columnar(codes, q, _PQ_BOOKS, k=5)
    return out.select(
        "query_id",
        "vec_id",
        *[F.col(f"c{j}").cast("int").alias(f"c{j}") for j in range(_PQ_M)],
        F.round(F.col("adc_dist"), 6).alias("adc_dist"),
        "rank",
    )


@query(
    "q181_png_pixel_decode",
    """
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height,
           3 AS channels,
           list_sum(list_transform(range(0, (4 + doc_id % 5) * (3 + doc_id % 4) * 3),
                                   k -> (doc_id * 7 + k * 13) % 256))::BIGINT AS pix_sum,
           (doc_id * 7) % 256 AS first_px,
           (doc_id * 7 + ((4 + doc_id % 5) * (3 + doc_id % 4) * 3 - 1) * 13) % 256 AS last_px
    FROM documents
    """,
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    """REAL PNG pixel decode, end-to-end through the codec: per doc a
    formula-valued RGB buffer (byte k = (id*7 + k*13) % 256) is encoded
    to a fully valid PNG (zlib IDAT, per-row filter cycling through all
    five spec filters, correct CRCs), then ``decode_pixels`` inflates and
    unfilters it back. The oracle predicts the pixel sum and the
    first/last bytes arithmetically — a hash match proves inflate +
    unfilter (None/Sub/Up/Average/Paeth) recovered the exact buffer.
    Closes the round-2 'pixel decode needs a codec library' caveat for
    PNG, whose codec is stdlib zlib."""
    base_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 4 + i % 5, 3 + i % 4
                k = np.arange(w * h * 3, dtype=np.int64)
                px = ((i * 7 + k * 13) % 256).astype(np.uint8).tobytes()
                payloads.append(mm.encode_png(px, w, h, 3, filters="mixed"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    d = load_table(spark, sf, "documents").select("doc_id").mapInPandas(synth, schema=base_schema)
    dec = mm.decode_pixels(d, "payload")

    stat_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("pix_sum", T.LongType()),
            T.StructField("first_px", T.LongType()),
            T.StructField("last_px", T.LongType()),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums, firsts, lasts = [], [], []
            for p in pdf["pixels"]:
                a = np.frombuffer(p, dtype=np.uint8)
                sums.append(int(a.sum()))
                firsts.append(int(a[0]))
                lasts.append(int(a[-1]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "channels": pdf["channels"],
                    "pix_sum": sums,
                    "first_px": firsts,
                    "last_px": lasts,
                }
            )

    return dec.select("doc_id", "pixels", "width", "height", "channels").mapInPandas(
        stats, schema=stat_schema
    )


@query(
    "q182_wav_pcm_decode",
    """
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
           CAST(2 * (10 + doc_id % 7) AS INT) AS n_samples,
           list_sum(list_transform(range(0, 2 * (10 + doc_id % 7)),
                                   k -> (doc_id * 31 + k * 17) % 65536 - 32768))::BIGINT AS sample_sum
    FROM documents
    """,
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WAV PCM sample decode: formula-valued s16le samples are
    wrapped in a valid RIFF container, ``decode_audio_samples`` walks the
    chunks and decodes normalized doubles, and the scaled sample sum is
    compared to the oracle's integer arithmetic. Every sample is a
    dyadic rational (int/32768) so the scaled sum is float-tie-free: a
    cross-engine float rounded at N dp is safe only if it cannot sit ON
    a rounding boundary, which the sf0.01 gate alone does not show."""
    base_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("payload", T.BinaryType())]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                n = 2 * (10 + i % 7)
                k = np.arange(n, dtype=np.int64)
                s = ((i * 31 + k * 17) % 65536 - 32768).astype("<i2")
                payloads.append(mm.encode_wav(s, channels=1 + i % 2, sample_rate=8000 + (i % 5) * 1000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    d = load_table(spark, sf, "documents").select("doc_id").mapInPandas(synth, schema=base_schema)
    dec = mm.decode_audio_samples(d, "payload")
    return dec.select(
        "doc_id",
        "channels",
        "sample_rate",
        F.size("samples").alias("n_samples"),
        F.round(
            F.aggregate("samples", F.lit(0.0), lambda acc, x: acc + x) * F.lit(32768.0)
        )
        .cast("bigint")
        .alias("sample_sum"),
    )


from .operators import grouping as _gp
from .operators import pipeline as _pl


@query(
    "q184_groupbyhash",
    """
    WITH t AS (SELECT o_orderkey AS rowid, o_custkey % 97 AS k FROM orders),
    f AS (SELECT k, min(rowid) AS ifirstkey FROM t GROUP BY k),
    r AS (SELECT k, ifirstkey, row_number() OVER (ORDER BY ifirstkey) AS ikey FROM f)
    SELECT t.rowid, t.k, CAST(r.ikey AS INT) AS ikey, r.ifirstkey
    FROM t JOIN r USING (k)
    """,
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    """groupbyhash parity (rt_grouping first-appearance numbering): the
    per-row 1-based group id in order of first occurrence plus the first
    row id of each group. Ranking runs on the distinct-key relation only
    (97 rows here), never over the fact table."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("rowid"), (F.col("o_custkey") % 97).alias("k")
    )
    return _gp.groupbyhash(o, "k", "rowid")


@query(
    "q185_groupbylex",
    """
    WITH t AS (SELECT o_orderkey AS rowid, o_custkey % 97 AS k FROM orders),
    u AS (SELECT DISTINCT k FROM t),
    r AS (SELECT k, row_number() OVER (ORDER BY k) AS ikey FROM u)
    SELECT t.rowid, t.k, CAST(r.ikey AS INT) AS ikey FROM t JOIN r USING (k)
    """,
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    """groupbylex parity: group ids numbered in lexicographic key order
    (the lexsort-based Grouping's numbering), ranked over distinct keys."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("rowid"), (F.col("o_custkey") % 97).alias("k")
    )
    return _gp.groupbylex(o, "k", "rowid")


@query(
    "q186_groupbypack",
    """
    WITH t AS (SELECT o_orderkey AS rowid, o_custkey % 97 AS k FROM orders),
    s AS (SELECT k, min(rowid) AS fr, count(*) AS ncount FROM t GROUP BY k),
    s2 AS (SELECT k, ncount,
                  (sum(ncount) OVER (ORDER BY fr) - ncount)::BIGINT AS ifirst
           FROM s)
    SELECT t.rowid, t.k,
           (s2.ifirst + row_number() OVER (PARTITION BY t.k ORDER BY t.rowid) - 1)::BIGINT AS igroup,
           s2.ifirst, s2.ncount
    FROM t JOIN s2 USING (k)
    """,
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    """groupbypack parity (iGroup/iFirstGroup/nCountGroup): each row's
    0-based position in the packed group-contiguous order, the group's
    start offset and size — offsets from a tiny cumulative aggregate over
    group stats, in-group ranks from a partitioned window."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("rowid"), (F.col("o_custkey") % 97).alias("k")
    )
    return _gp.groupbypack(o, "k", "rowid")


@query(
    "q187_shuffle_rows",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(doc_id::VARCHAR || '|7'), 1, 15))::BIGINT AS hv
      FROM documents
    )
    SELECT doc_id,
           (row_number() OVER (ORDER BY hv, doc_id) - 1)::BIGINT AS shuffle_pos
    FROM h
    """,
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch shuffle for training-data ordering: exact
    global positions under hash(id, seed) order, computed with bucket
    offsets + partitioned windows — the table is never sorted through a
    single partition (the oracle's naive global row_number is the
    semantics, not the plan). Seed 7, md5-portable hash for replay."""
    d = load_table(spark, sf, "documents").select("doc_id")
    return _pl.shuffle_rows(d, "doc_id", seed=7, n_buckets=64, hash_kind="md5").select(
        "doc_id", "shuffle_pos"
    )


from .operators import zorder as _zo


def _zorder_oracle_sql() -> str:
    """Bit-interleave replay: identical shift/mask integer arithmetic and
    identical IEEE scaling expression on both engines."""
    terms = []
    for i in range(8):
        terms.append(f"(((c1 >> {i}) & 1) << {2 * i})")
        terms.append(f"(((c2 >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""
    WITH mm AS (
      SELECT min(o_custkey)::DOUBLE AS lo1, max(o_custkey)::DOUBLE AS hi1,
             min(o_totalprice)::DOUBLE AS lo2, max(o_totalprice)::DOUBLE AS hi2
      FROM orders
    ),
    c AS (
      SELECT o_orderkey,
             least(255, floor((o_custkey::DOUBLE - lo1) / (hi1 - lo1) * 256))::BIGINT AS c1,
             least(255, floor((o_totalprice::DOUBLE - lo2) / (hi2 - lo2) * 256))::BIGINT AS c2
      FROM orders, mm
    )
    SELECT o_orderkey, ({z})::BIGINT AS zkey FROM c
    """


@query("q188_zorder_key", _zorder_oracle_sql())
def q188(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (o_custkey, o_totalprice):
    scale each column's value into 256 cells of its global range, then
    bit-interleave — the multi-column data-skipping layout key
    (save_zordered sorts the write on it so Parquet min/max footers
    bound every z-dimension per file). Pure codegen arithmetic; the
    oracle replays the scaling and interleave bit-for-bit."""
    o = load_table(spark, sf, "orders")
    z = _zo.zorder_key(o, ["o_custkey", "o_totalprice"], bits=8)
    return o.select("o_orderkey", z.alias("zkey"))


from .operators import dedup as _dd


@query(
    "q189_repeated_spans",
    r"""
    WITH t AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      FROM documents
    ),
    tt AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) >= 5),
    w AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(list_slice(tk, pos + 1, pos + 5), ' ')), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, tk, unnest(range(0, n - 4)) AS pos FROM tt)
    ),
    c AS (SELECT h, count(*) AS f FROM w GROUP BY h),
    r AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (h) WHERE f >= 2),
    agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_repeated,
             len(list_distinct(flatten(list_transform(list(pos), p -> range(p, p + 5)))))::BIGINT AS n_covered
      FROM r GROUP BY doc_id
    )
    SELECT tt.doc_id, (tt.n - 4)::BIGINT AS n_spans,
           coalesce(agg.n_repeated, 0)::BIGINT AS n_repeated,
           coalesce(agg.n_covered, 0)::BIGINT AS n_covered
    FROM tt LEFT JOIN agg USING (doc_id)
    """,
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring (k-token span) duplication profile across the
    corpus — the span-dedup family from the training-data literature:
    every 5-token window hashed (only 8-byte hashes shuffle), corpus
    frequencies counted, per-doc repeated-window and covered-token
    counts. The oracle replays the whole pipeline: normalize → windows →
    portable md5 span hashes → frequency join → coverage union."""
    d = load_table(spark, sf, "documents")
    return _dd.span_dedup_stats(d, k=5, hash_kind="md5")


@query(
    "q190_leakage_safe_split",
    """
    WITH RECURSIVE base_edges AS (
        SELECT doc_id AS src, doc_id + 1 AS dst
        FROM documents
        WHERE doc_id % 10 < 3 AND doc_id + 1 <= (SELECT max(doc_id) FROM documents)
    ),
    edges AS (
        SELECT src, dst FROM base_edges
        UNION SELECT dst AS src, src AS dst FROM base_edges
    ),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
    SELECT d.doc_id,
           CASE WHEN (('0x' || substr(md5(CAST(coalesce(comp.component, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT
                      % 1000) < 900
                THEN 'train' ELSE 'eval' END AS split
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    """,
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe 90/10 split: near-dup clusters (the q150 synthetic
    chain graph) split as a unit via their component representative, so
    an eval document can never be a near-copy of a training one. The
    oracle replays the transitive closure (recursive CTE) + the md5
    bucket threshold end-to-end."""
    d = load_table(spark, sf, "documents").select("doc_id")
    mx = d.agg(F.max("doc_id").alias("m"))
    pairs = (
        d.where(F.col("doc_id") % 10 < 3)
        .crossJoin(F.broadcast(mx))
        .where(F.col("doc_id") + 1 <= F.col("m"))
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    )
    return _pl.leakage_safe_split(
        d, pairs, {"train": 0.9, "eval": 0.1}, hash_kind="md5"
    ).select("doc_id", "split")


from .operators import profile as _pf


@query(
    "q191_profile_table",
    """
    SELECT 'o_orderkey' AS "column", 'bigint' AS dtype, count(*) AS n_rows,
           (count(*) - count(o_orderkey))::BIGINT AS n_null,
           count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', 'bigint', count(*),
           (count(*) - count(o_custkey))::BIGINT,
           count(DISTINCT o_custkey)::BIGINT,
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', 'string', count(*),
           (count(*) - count(o_orderstatus))::BIGINT,
           count(DISTINCT o_orderstatus)::BIGINT,
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', 'string', count(*),
           (count(*) - count(o_orderpriority))::BIGINT,
           count(DISTINCT o_orderpriority)::BIGINT,
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column table profile (the ingest data-quality audit): row /
    NULL / distinct counts and min-max per column, folded into ONE
    two-stage hash aggregation over one scan; per-column rows explode
    from the single result row. Exact distincts here for the oracle —
    the scale default is HyperLogLog (see profile_table docstring)."""
    o = load_table(spark, sf, "orders")
    return _pf.profile_table(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"], exact_distinct=True
    )


from .operators import bpe as _bpe


@query(
    "q192_bpe_train",
    r"""
    WITH words AS (
      SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents WHERE doc_id < 200
    ),
    wc AS (SELECT w, count(*)::BIGINT AS c FROM words WHERE w <> '' GROUP BY w),
    u0 AS (SELECT c,
             ' ' || substr(regexp_replace(w, '(.)', '\1  ', 'g'), 1,
                           length(regexp_replace(w, '(.)', '\1  ', 'g')) - 1) AS s
           FROM wc),
    t0 AS (SELECT c, string_split(trim(s), '  ') AS t FROM u0),
    p1 AS (SELECT t[i] || ' ' || t[i + 1] AS pair, sum(c)::BIGINT AS n
           FROM t0, unnest(range(1, len(t))) AS u(i)
           WHERE len(t) >= 2 GROUP BY pair),
    m1 AS (SELECT pair, n, split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
           FROM p1 ORDER BY n DESC, pair LIMIT 1),
    u1 AS (SELECT u0.c,
                  replace(u0.s, ' ' || m1.a || '  ' || m1.b || ' ', ' ' || m1.a || m1.b || ' ') AS s
           FROM u0, m1),
    t1 AS (SELECT c, string_split(trim(s), '  ') AS t FROM u1),
    p2 AS (SELECT t[i] || ' ' || t[i + 1] AS pair, sum(c)::BIGINT AS n
           FROM t1, unnest(range(1, len(t))) AS u(i)
           WHERE len(t) >= 2 GROUP BY pair),
    m2 AS (SELECT pair, n, split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
           FROM p2 ORDER BY n DESC, pair LIMIT 1)
    SELECT 1 AS step, a AS left_u, b AS right_u, a || b AS merged, n FROM m1
    UNION ALL
    SELECT 2 AS step, a, b, a || b, n FROM m2
    """,
)
def q192(spark: SparkSession, sf: str) -> DataFrame:
    """BPE subword merge training (Sennrich et al. 2016), Spark-first:
    ONE corpus pass reduces to the weighted distinct-word relation;
    every merge iteration is a pair-count aggregation over that small
    relation + a single-row collect, and merge application is a literal
    double-space replace (greedy leftmost = BPE's application order,
    portable to SQL verbatim). The oracle replays both iterations —
    character segmentation, weighted pair counts, tie-broken argmax,
    merge application — end to end."""
    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 200)
    merges = _bpe.bpe_train(d, n_merges=2)
    return spark.createDataFrame(
        [(m["step"], m["left"], m["right"], m["merged"], m["n"]) for m in merges],
        "step int, left_u string, right_u string, merged string, n long",
    )


from .operators import incremental as _inc


@query(
    "q193_incremental_rollup",
    """
    WITH e AS (SELECT user_id % 50 AS k, round(value * 100) AS v FROM events)
    SELECT k,
           count(*)::BIGINT AS n_rows,
           count(v)::BIGINT AS n_values,
           sum(v) / count(v) AS mean_val,
           (sum(v * v) - sum(v) * sum(v) / count(v)) / count(v) AS var_val,
           min(v) AS min_val,
           max(v) AS max_val
    FROM e GROUP BY k
    """,
)
def q193(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental rollup maintenance: the events table arrives as three
    'days' (event_id % 3 slices); each slice contributes mergeable
    partials (count/sum/sumsq/min/max), folded pairwise into a state
    relation, finalized to mean/var at read time. The oracle aggregates
    the WHOLE history directly — a hash match proves the merge algebra
    reconstructs the from-scratch answer exactly. Values are scaled to
    integer cents so every partial sum is exact (the sf0.1 float-tie
    lesson); the identical finalize expression shape keeps the one
    inexact product bit-equal across engines."""
    e = load_table(spark, sf, "events").select(
        (F.col("user_id") % 50).alias("k"),
        F.round(F.col("value") * 100).alias("v"),
        (F.col("event_id") % 3).alias("__day__"),
    )
    state = None
    for day in range(3):
        delta = _inc.rollup_partials(e.where(F.col("__day__") == day), ["k"], "v")
        state = delta if state is None else _inc.merge_rollup(state, delta, ["k"])
    return _inc.finalize_rollup(state, ["k"])


from .operators import retrieval as _ret


@query(
    "q194_tfidf",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents
    ),
    post AS (
      SELECT doc_id, term, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM d)
      GROUP BY doc_id, term
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
    dfreq AS (SELECT term, count(*)::DOUBLE AS df_t FROM post GROUP BY term)
    SELECT doc_id, term, tf, df_t,
           round(ln((n + 1) / (df_t + 1)) + 1, 6) AS idf,
           round(tf * (ln((n + 1) / (df_t + 1)) + 1), 6) AS tfidf
    FROM post JOIN dfreq USING (term) CROSS JOIN nn
    WHERE doc_id < 100
    """,
)
def q194(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF posting relation (smoothed sklearn-style idf): one explode
    + one (id, term) aggregation; the vocabulary-sized doc-frequency
    relation broadcasts back. Corpus-wide statistics, output sliced to
    doc_id < 100 for the compare."""
    d = load_table(spark, sf, "documents")
    out = _ret.tfidf_postings(d)
    return out.where(F.col("doc_id") < 100).select(
        "doc_id", "term", "tf", "df_t",
        F.round("idf", 6).alias("idf"), F.round("tfidf", 6).alias("tfidf"),
    )


@query(
    "q195_bm25_search",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents
    ),
    dd AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
    stats AS (SELECT count(*)::DOUBLE AS N, avg(dl) AS avgdl FROM dd),
    post AS (
      SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dd)
      WHERE term IN ('hash', 'join', 'vector')
      GROUP BY doc_id, dl, term
    ),
    dfreq AS (SELECT term, count(*)::DOUBLE AS df_t FROM post GROUP BY term),
    s AS (
      SELECT doc_id, term,
             ln(1 + (N - df_t + 0.5) / (df_t + 0.5)) * (tf * 2.2)
               / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS s
      FROM post JOIN dfreq USING (term) CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN term = 'hash' THEN s END), 0)
           + coalesce(sum(CASE WHEN term = 'join' THEN s END), 0)
           + coalesce(sum(CASE WHEN term = 'vector' THEN s END), 0) AS score
      FROM s GROUP BY doc_id
    )
    SELECT doc_id, round(score, 6) AS score, rank FROM (
      SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 15
    """,
)
def q195(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-15 for the query {hash, join, vector}: postings filtered
    to the query terms before aggregating (corpus tokens that don't
    match never shuffle), scores summed in fixed literal term order (a
    deterministic, engine-portable float sum), TakeOrdered top-k. The
    oracle replays idf, the saturation denominator and the ranking."""
    d = load_table(spark, sf, "documents")
    out = _ret.bm25_search(d, ["hash", "join", "vector"], k=15)
    return out.select("doc_id", F.round("score", 6).alias("score"), "rank")


from .operators import graph as _gr


@query(
    "q196_triangle_count",
    """
    WITH raw AS (
      SELECT doc_id % 40 AS x, (doc_id + 1) % 40 AS y FROM documents
      UNION ALL
      SELECT doc_id % 40, (doc_id + 2) % 40 FROM documents
      UNION ALL
      SELECT doc_id % 40, (doc_id * 7 + 3) % 40 FROM documents
    ),
    e AS (
      SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
      FROM raw WHERE x <> y
    ),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.hi = e2.lo
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    deg AS (
      SELECT count(*)::BIGINT AS n_nodes, max(degree) AS max_degree FROM (
        SELECT node, count(*)::BIGINT AS degree FROM (
          SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
        ) GROUP BY node
      )
    )
    SELECT n_triangles, n_nodes, max_degree FROM tri, deg
    """,
)
def q196(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count + degree profile over a deterministic synthetic
    link graph (doc_id-derived edges; the +1/+2 chord rules guarantee a
    triangle-rich structure — 48 at sf0.01): canonicalized deduped edges, the
    a<b<c two-equi-join enumeration (each triangle once, no cartesian),
    degree via endpoint union. Oracle replays both."""
    d = load_table(spark, sf, "documents")
    rules = [F.col("doc_id") + 1, F.col("doc_id") + 2, F.col("doc_id") * 7 + 3]
    raw = None
    for r in rules:
        part = d.select((F.col("doc_id") % 40).alias("src"), (r % 40).alias("dst"))
        raw = part if raw is None else raw.unionAll(part)
    tri = _gr.triangle_count(raw).select("n_triangles")
    deg = _gr.degree_stats(raw).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"), F.max("degree").alias("max_degree")
    )
    return tri.crossJoin(deg)
