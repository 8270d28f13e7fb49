"""Deduplication operators for training-data pipelines.

Exact dedup is a hash-groupBy; near-dup comes in three flavors —
MinHash+LSH, SimHash, and n-gram Jaccard — all expressed as DataFrame
pipelines whose only shuffles are keyed on (band, signature) buckets, so
they scale horizontally: no pairwise O(n²) comparison ever leaves a
bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import graph

# Mersenne prime 2^31-1 for the universal-hash family used by MinHash:
# with h, a, b < p the product h*a fits in int64 (< 2^62), so the math is
# exact under Spark ANSI mode — no overflow, no UDF.
_MERSENNE = (1 << 31) - 1
# Deterministic (a, b) parameters derived from a fixed seed — reproducible
# across runs/executors without RNG state.
def _hash_params(num_perm: int) -> list[tuple[int, int]]:
    params = []
    x = 0x9E3779B9
    for i in range(num_perm):
        a = (x * (2 * i + 1) + 0x632BE59B) % _MERSENNE
        b = (x * (i + 7) * 0x01000193 + 11) % _MERSENNE
        params.append((a | 1, b))
    return params


def normalize_text(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _base_hash64(col: Column, hash_kind: str) -> Column:
    """Shingle hash. 'xxhash64': fastest (JVM xxHash, the 100 TB path).
    'md5': portable 60-bit hash (first 15 hex digits of md5) that DuckDB
    reproduces exactly via ('0x'||substr(md5(s),1,15))::BIGINT — used by
    oracle-checked queries so the WHOLE pipeline is replayable in SQL.
    Crypto-hash cost is ~3-5× xxhash64; choose per use."""
    if hash_kind == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.xxhash64(col)


def shingles(col: Column, n: int = 5, mode: str = "word") -> Column:
    """n-gram shingle array. word mode: n-token sliding windows built with
    ``transform`` over the token array (JVM-side, no UDF).

    The tokenization is LET-BOUND via a single-element ``transform`` so
    the window lambda references a lambda VARIABLE: an expression named
    inside a higher-order-function lambda is re-evaluated per element
    (Catalyst's subexpression elimination does not reach lambda bodies),
    so the naive form re-ran the normalize+split once per window —
    measured 3.4-6x on trigrams at sf0.1. Output is bit-identical (same
    window expression over the same token array, incl. the short-doc
    partial-window semantics of slice+concat_ws)."""
    if mode == "char":
        txt = normalize_text(col)
        return F.transform(
            F.array(txt),
            lambda t: F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.length(t) - n, F.lit(0))),
                    lambda i: t.substr(i + 1, F.lit(n)),
                )
            ),
        ).getItem(0)
    toks = F.split(normalize_text(col), " ")
    return F.transform(
        F.array(toks),
        lambda ts: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(ts) - (n - 1), F.lit(1)) - 1),
                lambda i: F.concat_ws(" ", F.slice(ts, i + 1, n)),
            )
        ),
    ).getItem(0)


def _raw_ngrams(toks: Column, n: int) -> Column:
    """Raw (non-distinct) n-token windows with the same let-binding as
    ``shingles()``: the window lambda references a lambda VARIABLE, not
    the tokenization expression (which would re-evaluate per window)."""
    return F.transform(
        F.array(toks),
        lambda ts: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ts) - (n - 1), F.lit(1)) - 1),
            lambda i: F.concat_ws(" ", F.slice(ts, i + 1, n)),
        ),
    ).getItem(0)


# ---------------------------------------------------------------- exact
def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate removal on normalized text; keeps the smallest id
    per duplicate cluster (deterministic). One hash-shuffle on the
    fingerprint — at 100 TB the 64-bit fingerprint (8 bytes) shuffles, not
    the document text."""
    # NULL text is NOT a duplicate of other NULL text (xxhash64(NULL)
    # would give every such row the same seed hash) — null-text rows
    # bypass dedup by using their own id as the partition key.
    fp = F.when(
        F.col(text_col).isNotNull(), F.xxhash64(normalize_text(F.col(text_col)))
    )
    part = F.coalesce(F.col("__fp__"), F.col(id_col))
    nullfp = F.col("__fp__").isNull()
    w = Window.partitionBy(nullfp, part).orderBy(F.col(id_col))
    return (
        df.withColumn("__fp__", fp)
        .withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


def duplicate_clusters_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates: (fingerprint, n_docs, min_id). NULL
    text is not a duplicate of other NULL text (xxhash64(NULL) is a
    constant) — such rows are excluded, mirroring dedup_exact's guard."""
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    return (
        df.where(F.col(text_col).isNotNull())
        .select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


# -------------------------------------------------------------- minhash
def minhash_signature(col: Column, num_perm: int = 64, shingle_n: int = 5) -> Column:
    """MinHash signature as an array<long>: h_i = min over shingles of
    (a_i * xxhash64(s) + b_i mod p). All in `transform`/`aggregate` array
    exprs — JVM-side, no UDF, no shuffle.

    The (a, b) parameters ride in an array-of-structs literal and the
    outer `transform` iterates over it, so the (expensive) shingle-hash
    subtree appears ONCE in the expression — num_perm copies of it would
    blow up codegen (measured 5-10× slower)."""
    sh = shingles(col, n=shingle_n)
    hashes = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE).cast("long")))
    params = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in _hash_params(num_perm)
        ]
    )
    # let-bind the hash array: referencing `hashes` inside the params
    # lambda would re-evaluate the shingle+hash subtree once per
    # permutation (lambda bodies are outside subexpression elimination)
    return F.transform(
        F.array(hashes),
        lambda hs: F.transform(
            params,
            lambda p: F.array_min(F.transform(hs, lambda h: (h * p["a"] + p["b"]) % _MERSENNE)),
        ),
    ).getItem(0)


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 5,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """MinHash signature as num_perm columns ``mh0..mhN`` via explode +
    codegen min-aggregates: explode shingles, hash each once with
    xxhash64 (whole-stage codegen), then ``min((h*a_i+b_i) % p)`` per
    permutation in ONE hash aggregation. ~20× faster than the nested
    higher-order-function formulation (HOF lambdas are interpreted,
    ~15µs/eval measured). Map-side partial aggregation means the shuffle
    carries num_perm longs per (doc, partition), not the shingles."""
    sh = shingles(F.col(text_col), n=shingle_n)
    ex = df.select(F.col(id_col), F.explode(sh).alias("__shingle__"))
    # SQL-string expressions: ONE py4j roundtrip per aggregate instead of
    # ~8 Column-DSL calls each — driver-side plan build was the dominant
    # cost of this operator at small scale (measured 0.6 s for 32 perms)
    base = (
        "CAST(conv(substring(md5(__shingle__), 1, 15), 16, 10) AS BIGINT)"
        if hash_kind == "md5"
        else "xxhash64(__shingle__)"
    )
    ex = ex.withColumn("__h__", F.expr(f"pmod({base}, {_MERSENNE}L)"))
    aggs = [
        F.expr(f"min((__h__ * {a}L + {b}L) % {_MERSENNE}L) AS mh{i}")
        for i, (a, b) in enumerate(_hash_params(num_perm))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    hash_kind: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: signature → `bands` band
    hashes → pairs within (band_idx, band_hash) buckets.

    ONE aggregation gathers each bucket's sorted id list and emits its
    pairs with array combinatorics — the expensive signature relation is
    computed exactly once (a self-join form recomputes it per side on
    clusters without exchange reuse), and the only data shuffle is (id,
    band_idx, band_hash) keyed on the bucket. A bucket of k ids emits
    k(k-1)/2 pairs, so pathological all-identical corpora are the skew
    risk — bound it with ``max_bucket`` (buckets larger than that are
    degenerate duplicate clusters; handle them with exact dedup instead).
    Returns (id_a, id_b) with id_a < id_b.
    """
    rows_per_band = num_perm // bands
    with_sig = minhash_signature_df(df, text_col, id_col, num_perm, shingle_n, hash_kind)
    band_sql = ", ".join(
        "xxhash64(concat_ws(','," + ", ".join(f"CAST(mh{b * rows_per_band + r} AS STRING)" for r in range(rows_per_band)) + "))"
        for b in range(bands)
    )
    banded = with_sig.select(
        id_col, F.posexplode(F.expr(f"array({band_sql})")).alias("band_idx", "band_hash")
    )
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_list(id_col)).alias("__ids__")
    )
    buckets = buckets.where(F.size("__ids__") >= 2)
    if max_bucket is not None:
        buckets = buckets.where(F.size("__ids__") <= max_bucket)
    ids = F.col("__ids__")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("__p__"))
        .select("__p__.id_a", "__p__.id_b")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
) -> DataFrame:
    """Remove near-duplicates: keep the min-id representative of each
    connected candidate component (single-link via min-id propagation —
    one iteration covers star-shaped clusters; iterate to fixpoint for
    chains if required)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, num_perm, bands, shingle_n)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


# -------------------------------------------------------------- simhash
def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_n: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document as column ``__sh__``: explode
    shingles → one xxhash64 per shingle (codegen) → 64 sign-vote
    sum-aggregates in one hash aggregation → assemble the fingerprint
    with bitwiseOR. Same explode+codegen-agg shape as
    minhash_signature_df, for the same interpreted-HOF reason."""
    sh = shingles(F.col(text_col), n=shingle_n)
    ex = df.select(F.col(id_col), F.explode(sh).alias("__s__")).select(
        id_col, _base_hash64(F.col("__s__"), hash_kind).alias("__h__")
    )
    # Two bit-counters packed per 64-bit sum (bit b in the low 32 bits,
    # bit b+half in the high 32): halves the aggregate's expression
    # count, which halves the one-time whole-stage-codegen compile+JIT
    # cost that dominates a COLD run of this operator (measured round 6:
    # 60 separate CASE-WHEN sums cost ~14 s of first-run compile at
    # bits=60; packed, ~5 s). Exact: each field accumulates a plain
    # 0/1-per-shingle count, so fields cannot interact below 2^31
    # shingles per document. The sign vote v_b = 2*ones_b - n (same ±1
    # fold the unpacked form computed).
    half = (bits + 1) // 2
    one = F.lit(1).cast("long")

    def bit_of(b: int) -> Column:
        return F.shiftrightunsigned(F.col("__h__"), b).bitwiseAND(one)

    packed = []
    for b in range(half):
        expr = bit_of(b)
        if b + half < bits:
            expr = expr.bitwiseOR(F.shiftleft(bit_of(b + half), 32))
        packed.append(F.sum(expr).alias(f"p{b}"))
    voted = ex.groupBy(id_col).agg(F.count(one).alias("__n__"), *packed)
    lo_mask = F.lit((1 << 32) - 1).cast("long")

    def ones(bit: int) -> Column:
        p = F.col(f"p{bit % half}")
        return (
            p.bitwiseAND(lo_mask) if bit < half else F.shiftrightunsigned(p, 32)
        )

    fp = F.lit(0).cast("long")
    for bit in range(bits):
        mask = F.shiftleft(one, bit)
        fp = fp.bitwiseOR(
            F.when(ones(bit) * 2 > F.col("__n__"), mask).otherwise(F.lit(0).cast("long"))
        )
    return voted.select(F.col(id_col), fp.alias("__sh__"))


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    shingle_n: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket by max_hamming+1 bit chunks
    (pigeonhole — a pair differing in ≤ max_hamming of 64 bits must share
    at least one exact chunk when split into max_hamming+1), join within
    buckets, verify exact hamming distance. Larger max_hamming ⇒ narrower
    chunks ⇒ denser buckets: recall stays exact, cost grows."""
    n_chunks = max_hamming + 1
    width = bits // n_chunks
    base = simhash_df(df, text_col, id_col, bits=bits, shingle_n=shingle_n, hash_kind=hash_kind)
    def chunk(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("__sh__"), width * i)
        cbits = bits - width * i if i == n_chunks - 1 else width  # last chunk: leftover high bits
        if cbits >= 64:
            return shifted  # whole hash; a 2^64-1 mask would overflow LongType
        return shifted.bitwiseAND(F.lit((1 << cbits) - 1))

    chunks = F.array(*[chunk(i) for i in range(n_chunks)])
    banded = base.select(id_col, "__sh__", F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .where(hamming_distance(F.col("a.__sh__"), F.col("b.__sh__")) <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


# ------------------------------------------------------- ngram jaccard
def _word_shingles(text_col: str, n: int) -> Column:
    """Raw n-token windows of the normalized text (tokens when n = 1)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    return _raw_ngrams(toks, n) if n > 1 else toks


def _shared_shingle_pairs(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    weighted: bool,
    max_doc_freq_frac: float | None,
) -> DataFrame:
    """Every unordered doc pair (``id_a < id_b``) sharing ≥1 shingle, with
    the shared weight and both doc sizes — the plan behind the set-
    similarity operators, which only divide and threshold its output.

    Weights are shingle counts (``n_shared`` = |A∩B|, sizes |A|) or, when
    ``weighted``, term frequencies (``w_shared`` = Σ min(tf_A, tf_B),
    sizes Σ tf). The RAW ``tokens`` stream is exploded (no
    array_distinct — that chain gets duplicated into the scan's pushed
    filter and re-evaluated per row) and (doc, shingle) deduped with an
    aggregation. Both self-join sides hash-partition on the same
    aggregate output, so Spark's ReuseExchange computes the tokenization
    exactly once. The shuffle key is the shingle hash; rare shingles
    keep buckets small.

    ``max_doc_freq_frac`` drops shingles found in more than
    ``floor(frac · n_docs)`` documents before the self-join and the
    sizes. The distinct-doc count rides the plan as a one-row broadcast,
    so building the plan starts no Spark job. None = no cap."""
    aggs = [F.xxhash64("shingle").alias("shingle_h")]
    if weighted:
        aggs.append(F.count(F.lit(1)).alias("tf"))
        size = F.sum("tf")
        shared = F.sum(F.least(F.col("a.tf"), F.col("b.tf"))).alias("w_shared")
    else:
        size = F.count(F.lit(1))
        shared = F.count(F.lit(1)).alias("n_shared")
    exploded = (
        df.select(F.col(id_col), F.explode(tokens).alias("shingle"))
        .groupBy(id_col, "shingle")
        .agg(*aggs)
    )
    if max_doc_freq_frac is not None:
        n_docs = df.agg(F.countDistinct(id_col).alias("__n_docs__"))
        cap = F.floor(F.lit(float(max_doc_freq_frac)) * F.col("__n_docs__"))
        dfreq = exploded.groupBy("shingle_h").agg(F.count(F.lit(1)).alias("__df__"))
        keep = (
            dfreq.crossJoin(F.broadcast(n_docs))
            .where(F.col("__df__") <= cap)
            .select("shingle_h")
        )
        # `keep` itself is corpus-sized, so it is not broadcast: an
        # equi-join on the hash both sides already share is one
        # co-partitioned pass
        exploded = exploded.join(keep, on="shingle_h")
    sizes = exploded.groupBy(id_col).agg(size.alias("__size__"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            on=[F.col("a.shingle_h") == F.col("b.shingle_h"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__size__").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__size__").alias("size_b"))
    return inter.join(sa, on="id_a").join(sb, on="id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    explode shingles → self-join on shingle → count shared → Jaccard via
    |A∩B| / (|A|+|B|−|A∩B|). The shuffle key is the shingle hash; rare
    shingles keep buckets small.

    ``max_doc_freq_frac`` is the stopword-shingle skew guard (VERDICT r1):
    shingles appearing in more than that fraction of documents are
    dropped BEFORE the self-join — a ubiquitous shingle's bucket is an
    O(n²) pair generator and contributes almost no discriminative signal.
    Sizes and intersections are then computed consistently over the
    FILTERED shingle universe (exact Jaccard on that universe; a
    documented approximation of the raw-text Jaccard). None = no cap."""
    inter = _shared_shingle_pairs(
        df, id_col, _word_shingles(text_col, n), weighted=False, max_doc_freq_frac=max_doc_freq_frac
    )
    jac = F.col("n_shared") / (F.col("size_a") + F.col("size_b") - F.col("n_shared"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).where(F.col("jaccard") >= threshold)


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Keep exactly ONE representative (the min id) per connected
    duplicate cluster; rows never appearing in a pair keep themselves.
    This closes minhash_dedup's documented star-shape limitation — its
    single-pass min-id drop handles stars, this handles arbitrary
    chains."""
    comp = graph.connected_components(pairs, max_iter=max_iter)
    drop = comp.where(F.col("node") != F.col("component")).select(F.col("node").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


_KB_ENC = 1_000_000_000  # id < 1e9 ⇒ (quality, id) packs into one BIGINT


def keep_best(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    max_iter: int = 20,
) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster: resolve
    connected components over the candidate-pair graph, then keep the
    member with the highest ``quality_col`` (id as tiebreak) — the
    KEEP/DROP policy a curation pipeline actually wants (keep the best
    member, not the arbitrary min-id one ``dedup_by_components`` picks).

    The per-cluster argmax packs (quality, id) into one BIGINT max so
    ties resolve identically in any engine.  Cost beyond the component
    fixpoint: one broadcast-sized join of cluster nodes against the doc
    relation (components are a vanishing fraction of a deduped corpus)
    plus one hash agg keyed on component.

    Returns (component, cluster_size, keep_id, keep_quality).
    """
    comp = graph.connected_components(pairs, max_iter=max_iter)
    q = comp.join(
        docs.select(F.col(id_col).alias("node"), F.col(quality_col).alias("__q__")),
        on="node",
    )
    enc = F.max(F.col("__q__").cast("bigint") * _KB_ENC + F.col("node"))
    return q.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        (enc % _KB_ENC).alias("keep_id"),
        ((enc - enc % _KB_ENC) / _KB_ENC).alias("keep_quality"),
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    mode: str = "join",
    hash_kind: str = "xxhash64",
    fpp: float = 1e-6,
) -> DataFrame:
    """Corpus-level line/paragraph dedup (the CCNet/RefinedWeb curation
    step): lines whose NORMALIZED form appears ≥ ``min_count`` times
    across the whole corpus are boilerplate (headers, footers, cookie
    banners) and are removed from every document; surviving lines
    reassemble in original order. Returns (id, clean_text) — documents
    whose every line was boilerplate drop out entirely.

    mode='join' (exact): lines explode with a positional index, the
    frequency aggregate shuffles ONLY an 8-byte line hash, the frequent
    set broadcasts into a left-anti join, and one doc-keyed shuffle
    reassembles. mode='bloom' (approximate): the frequent-line hashes
    build a fixed-size Bloom filter instead and the line filter runs
    HORIZONTALLY inside ``F.filter`` over the split array — the corpus
    text never shuffles at all; a kept line is dropped wrongly with
    probability ≤ ``fpp`` (false positives only — boilerplate never
    survives)."""
    from .pipeline import bloom_hit, build_bloom

    t = F.col(text_col)
    key_of = lambda c: _base_hash64(F.lower(F.trim(c)), hash_kind)  # noqa: E731
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(t, F.lit(sep), -1)).alias("__ln__", "__line__")
    )
    freq = (
        lines.select(key_of(F.col("__line__")).alias("__k__"))
        .groupBy("__k__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .where(F.col("__c__") >= min_count)
        .select("__k__")
    )
    if mode == "bloom":
        n_boiler = freq.count()
        bf, m, k = build_bloom(freq, F.col("__k__"), max(n_boiler, 1), fpp, hash_kind=hash_kind)
        kept = F.filter(
            F.split(t, F.lit(sep), -1),
            lambda line: ~bloom_hit(key_of(line), m, k, hash_kind=hash_kind),
        )
        out = df.crossJoin(F.broadcast(bf)).select(
            F.col(id_col), F.array_join(kept, sep).alias("clean_text")
        )
        return out.where(F.size(kept) > 0)
    clean = lines.withColumn("__k__", key_of(F.col("__line__"))).join(
        F.broadcast(freq), on="__k__", how="left_anti"
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("__ln__"), F.col("__line__")))),
        lambda s: s["__line__"],
    )
    return clean.groupBy(id_col).agg(F.array_join(ordered, sep).alias("clean_text"))


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_kind: str = "xxhash64",
    verify: str = "jaccard",
    max_edit_distance: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Fuzzy (approximate-text) JOIN between two relations — the entity-
    matching primitive: candidate pairs from banded-MinHash collisions
    ACROSS the two tables, verified with exact n-gram Jaccard
    (``verify='jaccard'``) or exact Levenshtein edit distance
    (``verify='levenshtein'`` + ``max_edit_distance`` — the right
    verify for short keys like names/addresses, where token Jaccard is
    too coarse; O(|a|·|b|) per CANDIDATE pair only).

    Scale shape: each side reduces to its signature relation (num_perm
    longs/row) then explodes to (band_idx, band_hash, id) — the
    candidate join is an EQUI-join on the band key carrying ids only;
    the verify joins text/shingles back BY ID, sized by |candidates|,
    never |left|×|right|. Both verifies are exact integer arithmetic —
    engine-portable with no float ties. ``max_bucket`` caps each band
    bucket's PER-SIDE membership (boilerplate-heavy buckets emit
    |l|·|r| candidates — the same skew dial as minhash_lsh_pairs'
    max_bucket; oversized buckets are degenerate duplicate clusters
    better handled by exact dedup first). Returns (left_id, right_id,
    jaccard) or (left_id, right_id, edit_distance)."""
    rpb = num_perm // bands

    def banded(df: DataFrame, text_col: str, id_col: str, out_id: str) -> DataFrame:
        sig = minhash_signature_df(df, text_col, id_col, num_perm, shingle_n, hash_kind)
        band_sql = ", ".join(
            "xxhash64(concat_ws(','," + ", ".join(
                f"CAST(mh{b * rpb + r} AS STRING)" for r in range(rpb)
            ) + "))"
            for b in range(bands)
        )
        return sig.select(
            F.col(id_col).alias(out_id),
            F.posexplode(F.expr(f"array({band_sql})")).alias("__bi__", "__bh__"),
        )
    bl = banded(left, left_text, left_id, "__lid__")
    br = banded(right, right_text, right_id, "__rid__")
    if max_bucket is not None:
        from pyspark.sql import Window as _W

        wl = _W.partitionBy("__bi__", "__bh__")
        bl = bl.withColumn("__bn__", F.count(F.lit(1)).over(wl)).where(F.col("__bn__") <= max_bucket).drop("__bn__")
        br = br.withColumn("__bn__", F.count(F.lit(1)).over(wl)).where(F.col("__bn__") <= max_bucket).drop("__bn__")
    cand = bl.join(br, on=["__bi__", "__bh__"]).select("__lid__", "__rid__").distinct()
    if verify == "levenshtein":
        if max_edit_distance is None:
            raise ValueError("verify='levenshtein' requires max_edit_distance")
        lt = left.select(F.col(left_id).alias("__lid__"), normalize_text(F.col(left_text)).alias("__ta__"))
        rt = right.select(F.col(right_id).alias("__rid__"), normalize_text(F.col(right_text)).alias("__tb__"))
        v = cand.join(lt, on="__lid__").join(rt, on="__rid__")
        dist = F.levenshtein(F.col("__ta__"), F.col("__tb__"))
        return (
            v.select(
                F.col("__lid__").alias(left_id + "_l"),
                F.col("__rid__").alias(right_id + "_r"),
                dist.alias("edit_distance"),
            )
            .where(F.col("edit_distance") <= max_edit_distance)
        )
    la = left.select(F.col(left_id).alias("__lid__"), shingles(F.col(left_text), n=shingle_n).alias("__sa__"))
    rb = right.select(F.col(right_id).alias("__rid__"), shingles(F.col(right_text), n=shingle_n).alias("__sb__"))
    v = cand.join(la, on="__lid__").join(rb, on="__rid__")
    inter = F.size(F.array_intersect(F.col("__sa__"), F.col("__sb__")))
    uni = F.size(F.array_union(F.col("__sa__"), F.col("__sb__")))
    return (
        v.select(
            F.col("__lid__").alias(left_id + "_l"),
            F.col("__rid__").alias(right_id + "_r"),
            (inter.cast("double") / uni).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------- repeated spans
def span_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Every k-token sliding window of every document as (id, pos,
    span_hash): the unit of exact-substring duplicate detection (the
    span-dedup family from the training-data dedup literature — spans
    repeated across a corpus are boilerplate/memorization fodder).
    Positions are 0-based over the whitespace-normalized token array;
    docs shorter than k tokens emit nothing. The window build is pure
    codegen (sequence→explode→slice) — each document expands inside its
    own partition; only 8-byte hashes ever shuffle downstream."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    d = df.select(F.col(id_col), toks.alias("__t__")).where(F.size("__t__") >= k)
    idx = F.sequence(F.lit(0), F.size("__t__") - k)
    return d.select(F.col(id_col), F.col("__t__"), F.explode(idx).alias("pos")).select(
        id_col,
        "pos",
        _base_hash64(F.concat_ws(" ", F.slice(F.col("__t__"), F.col("pos") + 1, k)), hash_kind).alias(
            "span_hash"
        ),
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
    max_count: int | None = None,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Corpus-repeated k-token spans: windows whose hash occurs
    ``min_count``+ times across ALL documents → (id, pos, span_hash,
    span_freq). One shuffle keyed on the 8-byte span hash for the
    frequency count, one hash-join back. ``max_count`` caps ubiquitous
    spans (the doc-freq skew guard, same rationale as token_jaccard's
    shingle cap: a span in every document creates a huge join bucket
    and is better handled by dedup_lines-style boilerplate removal)."""
    w = span_windows(df, text_col, id_col, k, hash_kind)
    cond = F.col("span_freq") >= min_count
    counts = w.groupBy("span_hash").agg(F.count(F.lit(1)).alias("span_freq")).where(
        cond if max_count is None else cond & (F.col("span_freq") <= max_count)
    )
    return w.join(counts, "span_hash").select(id_col, "pos", "span_hash", "span_freq")


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Per-document span-duplication profile: total windows, windows
    repeated corpus-wide, and the count of token positions covered by at
    least one repeated window (the amount remove_repeated_spans would
    cut). Documents shorter than k tokens are excluded (they have no
    windows)."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), F.size(toks).alias("__n__")).where(F.col("__n__") >= k)
    totals = base.select(id_col, (F.col("__n__") - k + 1).cast("long").alias("n_spans"))
    rep = repeated_spans(df, text_col, id_col, k, min_count, None, hash_kind)
    covered = F.size(
        F.array_distinct(
            F.flatten(F.transform(F.collect_list("pos"), lambda p: F.sequence(p, p + k - 1)))
        )
    )
    agg = rep.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_repeated"), covered.cast("long").alias("n_covered")
    )
    return totals.join(agg, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("n_repeated", F.lit(0)).cast("long").alias("n_repeated"),
        F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
    hash_kind: str = "xxhash64",
    out_col: str = "text_dedup",
) -> DataFrame:
    """Cut every token covered by a corpus-repeated k-span (ALL
    occurrences — the boilerplate-removal policy, consistent with
    dedup_lines; a keep-first policy would need a global occurrence
    order). Output text is whitespace-normalized with covered tokens
    removed. The per-doc rebuild is a higher-order filter over the token
    array with an index lambda — JVM-side, no UDF."""
    rep = repeated_spans(df, text_col, id_col, k, min_count, None, hash_kind)
    cov = rep.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(F.transform(F.collect_list("pos"), lambda p: F.sequence(p, p + k - 1)))
        ).alias("__cov__")
    )
    toks = F.split(normalize_text(F.col(text_col)), " ")
    out = df.join(cov, id_col, "left")
    kept = F.filter(toks, lambda t, i: ~F.coalesce(F.array_contains("__cov__", i), F.lit(False)))
    return out.withColumn(out_col, F.array_join(kept, " ")).drop("__cov__")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Winnowing document sketch (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS fingerprinting algorithm): hash every k-token window, then
    keep only the RIGHTMOST MINIMUM of each w-window of those hashes.
    Returns (id, pos, fp) with pos the 0-based token offset of the
    selected k-gram.

    Why it earns its place next to :func:`span_windows`: the sketch is
    ~2/(w+1) of full span density but GUARANTEES that any substring of
    ≥ w+k−1 shared tokens between two documents yields at least one
    shared fingerprint — the principled middle ground between exact
    span dedup (full density) and MinHash (whole-doc granularity).  At
    100 TB that density factor is the difference between shuffling
    every window hash and shuffling a fifth of them.

    All codegen: the k-gram hash array is STAGED in its own projection
    (a lambda indexing an inlined array re-evaluates it per element),
    then one transform over window starts takes slice-minima; only
    (id, pos, fp) longs leave the document's partition."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    d = df.select(F.col(id_col), toks.alias("__t__")).where(
        F.size("__t__") >= k + w - 1
    )
    staged = d.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.size("__t__") - k),
            lambda i: _base_hash64(
                F.concat_ws(" ", F.slice(F.col("__t__"), i + 1, k)), hash_kind
            ),
        ).alias("__h__"),
    )

    # explode window starts FIRST (the span_windows pattern), then pick
    # the rightmost min per row: feeding a struct-returning lambda into
    # explode trips a Catalyst Generate rewrite that re-binds the lambda
    # into a context where the sequence bound is wrong (slice start 0 at
    # runtime) — row-wise expressions over the staged column are safe.
    starts = staged.select(
        id_col, "__h__",
        F.explode(F.sequence(F.lit(0), F.size("__h__") - w)).alias("__j__"),
    ).select(
        id_col, "__j__", F.slice(F.col("__h__"), F.col("__j__") + 1, w).alias("__w__")
    )
    mn = F.array_min(F.col("__w__"))
    # rightmost occurrence of the min: first position in the reversed
    # window, mapped back (robust-winnowing tie rule)
    return starts.select(
        F.col(id_col),
        (F.col("__j__") + w - F.array_position(F.reverse(F.col("__w__")), mn))
        .cast("long")
        .alias("pos"),
        mn.alias("fp"),
    ).distinct()


def winnow_matches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    min_docs: int = 2,
    max_docs: int | None = None,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Cross-document shared-span candidates from the winnowing sketch:
    fingerprints selected by ≥ ``min_docs`` distinct documents, joined
    back to their occurrences → (fp, id, pos, n_docs).  One shuffle
    keyed on the 8-byte fingerprint; ``max_docs`` is the ubiquity skew
    cap (the doc-freq guard every candidate-generation join in this
    module carries — a boilerplate span in every document belongs to
    dedup_lines, not to a join bucket)."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w, hash_kind)
    cond = F.col("n_docs") >= min_docs
    counts = fps.groupBy("fp").agg(
        F.countDistinct(id_col).cast("long").alias("n_docs")
    ).where(cond if max_docs is None else cond & (F.col("n_docs") <= max_docs))
    return fps.join(counts, "fp").select("fp", id_col, "pos", "n_docs")


def winnow_shared_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    max_docs: int = 50,
    min_anchors: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """MOSS-style match reporting: chain shared fingerprints into
    maximal aligned runs per document pair.  Two docs sharing a token
    run anchor fingerprints at identical offsets, so grouping matched
    positions by (id_a, id_b, pos_a − pos_b) and spanning min→max+k
    yields a LOWER BOUND on each shared run — pure integer aggregation,
    no token arrays ever join or shuffle (the payload is (id, pos, fp)
    longs).  Returns (id_a, id_b, diag, start_a, start_b,
    run_len, n_anchors) with id_a < id_b.

    ``max_docs`` is the mandatory ubiquity cap on fingerprint document
    frequency (the fp self-join is quadratic per bucket);
    ``min_anchors`` drops single-anchor coincidences (a lone shared
    k-gram), keeping runs the sketch actually chained."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w, hash_kind)
    counts = fps.groupBy("fp").agg(F.countDistinct(id_col).alias("__nd__")).where(
        (F.col("__nd__") >= 2) & (F.col("__nd__") <= max_docs)
    )
    fp2 = fps.join(counts.select("fp"), "fp")
    a = fp2.select(F.col("fp"), F.col(id_col).alias("id_a"), F.col("pos").alias("pa"))
    b = fp2.select(F.col("fp"), F.col(id_col).alias("id_b"), F.col("pos").alias("pb"))
    pairs = a.join(b, "fp").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy(
            "id_a", "id_b", (F.col("pa") - F.col("pb")).alias("diag")
        )
        .agg(
            F.min("pa").alias("start_a"),
            (F.min("pa") - F.col("diag")).alias("start_b"),
            (F.max("pa") - F.min("pa") + k).cast("long").alias("run_len"),
            F.count(F.lit(1)).cast("long").alias("n_anchors"),
        )
        .where(F.col("n_anchors") >= min_anchors)
    )


def winnow_verify_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    max_docs: int = 50,
    min_anchors: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Exact verification of :func:`winnow_shared_runs` candidates — the
    verify stage every sketch family here pairs with its candidate
    generator (minhash→jaccard, simhash→hamming, banding→editdist):
    re-join the two token arrays for each CANDIDATE pair only (bounded
    by the fp doc-frequency cap and ``min_anchors``; raw corpora never
    join all-pairs), test the claimed span token-by-token, and extend
    it left/right to the TRUE maximal shared run.

    Appends ``run_exact`` (every position inside the sketch's
    lower-bound span matches), ``true_start_a`` and ``true_len`` (the
    maximal extension around it).  All comparisons are JVM array
    expressions (zip_with / array_position); exact-integer output."""
    runs = winnow_shared_runs(
        df, text_col, id_col, k, w, max_docs, min_anchors, hash_kind
    )
    toks = F.split(normalize_text(F.col(text_col)), " ")
    ta = df.select(F.col(id_col).alias("id_a"), toks.alias("__ta__"))
    tb = df.select(F.col(id_col).alias("id_b"), toks.alias("__tb__"))
    j = runs.join(ta, "id_a").join(tb, "id_b")

    def first_false(eq_arr):
        # Spark array_position returns 0 when absent (all-equal)
        return F.array_position(eq_arr, F.lit(False))

    run_a = F.slice(F.col("__ta__"), F.col("start_a") + 1, F.col("run_len"))
    run_b = F.slice(F.col("__tb__"), F.col("start_b") + 1, F.col("run_len"))
    exact = first_false(F.zip_with(run_a, run_b, lambda x, y: x == y)) == 0

    pre_m = F.least(F.col("start_a"), F.col("start_b"))
    pre_a = F.reverse(F.slice(F.col("__ta__"), 1, F.col("start_a")))
    pre_b = F.reverse(F.slice(F.col("__tb__"), 1, F.col("start_b")))
    eq_pre = F.zip_with(
        F.slice(pre_a, 1, pre_m), F.slice(pre_b, 1, pre_m), lambda x, y: x == y
    )
    left_ext = F.when(first_false(eq_pre) == 0, pre_m).otherwise(first_false(eq_pre) - 1)

    end_a = F.col("start_a") + F.col("run_len")
    end_b = F.col("start_b") + F.col("run_len")
    suf_m = F.least(F.size("__ta__") - end_a, F.size("__tb__") - end_b)
    suf_a = F.slice(F.col("__ta__"), end_a + 1, suf_m)
    suf_b = F.slice(F.col("__tb__"), end_b + 1, suf_m)
    eq_suf = F.zip_with(suf_a, suf_b, lambda x, y: x == y)
    right_ext = F.when(first_false(eq_suf) == 0, suf_m).otherwise(first_false(eq_suf) - 1)

    return j.select(
        "id_a", "id_b", "diag", "start_a", "start_b", "run_len", "n_anchors",
        exact.alias("run_exact"),
        F.when(exact, F.col("start_a") - left_ext)
        .otherwise(F.col("start_a"))
        .cast("long")
        .alias("true_start_a"),
        F.when(exact, F.col("run_len") + left_ext + right_ext)
        .otherwise(F.col("run_len"))
        .cast("long")
        .alias("true_len"),
    )


def winnow_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Durable near-dup state for continuous ingestion: the DISTINCT
    winnowing fingerprints of a corpus (8 bytes per ~(w+1)/2 tokens —
    the span-level sibling of :func:`fingerprint_index`).  Persist this
    tiny relation between pipeline runs instead of re-reading
    yesterday's corpus."""
    return winnow_fingerprints(df, text_col, id_col, k, w, hash_kind).select(
        "fp"
    ).distinct()


def winnow_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    min_hits: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Incremental span-level dup screening for a running crawl: score
    each NEW document by how many of its winnowing fingerprints are
    already in the ``seen`` index (one join on the 8-byte fp — broadcast
    when the index fits, shuffled-hash otherwise; the historical CORPUS
    is never re-read).  Returns (id, n_fps, n_hits, is_dup) with
    ``is_dup = n_hits ≥ min_hits`` — the boilerplate/near-dup flag; the
    caller unions :func:`winnow_index` of the survivors to produce the
    next run's index, so state grows by fingerprints, never text.
    Documents too short to fingerprint (< w+k−1 tokens) pass through
    with n_fps = 0, never flagged.

    The ``seen`` index is deduplicated on fp before the join: the
    documented maintenance pattern (union winnow_index outputs across
    runs) would otherwise carry duplicate fps, and a left join against
    a duplicated key multiplies rows — inflating n_fps AND n_hits."""
    fps = winnow_fingerprints(new_df, text_col, id_col, k, w, hash_kind)
    hit = fps.join(
        seen.select(F.col("fp")).distinct().withColumn("__hit__", F.lit(1)),
        "fp",
        "left",
    )
    per = hit.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.sum(F.coalesce("__hit__", F.lit(0))).cast("long").alias("n_hits"),
    )
    base = new_df.select(id_col)
    return base.join(per, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fps"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("is_dup"),
    )


def remove_winnowed_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    w: int = 4,
    min_docs: int = 2,
    max_docs: int | None = None,
    hash_kind: str = "xxhash64",
    out_col: str = "text_clean",
) -> DataFrame:
    """Sketch-driven boilerplate removal: cut every token covered by a
    k-span whose winnowing fingerprint matched ≥ ``min_docs`` documents
    (the sampled-sketch sibling of :func:`remove_repeated_spans` — at
    ~2/(w+1) of the candidate volume it removes the spans the sketch
    SELECTED, a guaranteed-recall subset for runs ≥ w+k−1 tokens).
    Appends ``n_before`` (token count), ``n_removed`` (covered
    positions) and ``out_col`` (whitespace-normalized text with covered
    tokens cut).  The per-doc rebuild is a higher-order index filter —
    JVM-side, no UDF; only (id, pos) pairs shuffle."""
    m = winnow_matches(df, text_col, id_col, k, w, min_docs, max_docs, hash_kind)
    cov = m.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.sequence(
                        F.col("pos").cast("int"), (F.col("pos") + k - 1).cast("int")
                    )
                )
            )
        ).alias("__cov__")
    )
    toks = F.split(normalize_text(F.col(text_col)), " ")
    out = df.join(cov, id_col, "left")
    kept = F.filter(
        toks, lambda t, i: ~F.coalesce(F.array_contains("__cov__", i), F.lit(False))
    )
    return out.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_before"),
        F.coalesce(F.size("__cov__"), F.lit(0)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias(out_col),
    )


def doc_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_kind: str = "md5",
) -> DataFrame:
    """Per-document novelty score: the fraction of a document's distinct
    n-gram shingles that appear in NO other document (1 − shared/total)
    — the memorization/boilerplate diagnostic between exact dedup
    (whole-doc) and dedup_lines (corpus-frequency lines).

    Shuffle budget: the shingle relation reduces to (doc, 8-byte hash)
    before anything moves; one hash-keyed aggregation computes document
    frequency, one join back + one per-doc aggregation scores.  The
    ubiquitous-shingle skew that plagues pair generation doesn't apply —
    df counting is a plain aggregate, never a self-join.
    """
    sh = df.select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("__s__")).where(
        F.col("__s__") != ""
    )
    hs = sh.select(F.col(id_col), _base_hash64(F.col("__s__"), hash_kind).alias("__h__")).distinct()
    dfreq = hs.groupBy("__h__").agg(F.count(F.lit(1)).alias("__df__"))
    j = hs.join(dfreq, on="__h__")
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("__df__") >= 2, 1).otherwise(0)).cast("bigint").alias("n_shared"),
        (1 - F.sum(F.when(F.col("__df__") >= 2, 1).otherwise(0)).cast("bigint") / F.count(F.lit(1))).alias("novelty"),
    )


def pair_eval(pred_pairs: DataFrame, true_pairs: DataFrame) -> DataFrame:
    """Precision/recall/F1 of a candidate-pair generator against ground
    truth — the evaluation harness for any dedup/blocking strategy
    (how many true duplicate pairs does MinHash banding actually
    recover, at what false-positive cost?).

    Pairs canonicalize to (min, max) so orientation never miscounts;
    TP/FP/FN come from one full-outer equi-join of the two (small)
    pair relations; precision/recall/F1 compose from exact integer
    counts (F1 = 2pr/(p+r) on identical doubles).
    """
    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("b"),
        ).distinct()

    p = canon(pred_pairs).withColumn("__p__", F.lit(1))
    t = canon(true_pairs).withColumn("__t__", F.lit(1))
    j = p.join(t, on=["a", "b"], how="full_outer")
    agg = j.agg(
        F.sum(F.when(F.col("__p__").isNotNull() & F.col("__t__").isNotNull(), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(F.col("__p__").isNotNull() & F.col("__t__").isNull(), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(F.col("__p__").isNull() & F.col("__t__").isNotNull(), 1).otherwise(0)).cast("bigint").alias("fn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
    return agg.select("tp", "fp", "fn", prec.alias("precision"), rec.alias("recall"), f1.alias("f1"))


def fingerprint_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The durable exact-dedup state: DISTINCT 64-bit fingerprints of
    normalized text (8 bytes/doc) — persist this tiny relation between
    pipeline runs instead of re-reading yesterday's corpus."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.xxhash64(normalize_text(F.col(text_col))).alias("fingerprint"))
        .distinct()
    )


def dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup for a running ingestion pipeline: drop
    new documents whose fingerprint is already in the ``seen`` index
    (one anti-join on the 8-byte key — broadcast when the index fits,
    shuffled-hash otherwise), then self-dedup the survivors with the
    same keep-smallest-id rule as :func:`dedup_exact`.

    The returned frame unions with ``fingerprint_index`` of itself to
    produce the NEXT run's index — state grows by one long per novel
    document, never by text.  NULL-text rows pass through (consistent
    with dedup_exact: NULL is not a duplicate of NULL).
    """
    fp = F.when(
        F.col(text_col).isNotNull(), F.xxhash64(normalize_text(F.col(text_col)))
    )
    tagged = new_df.withColumn("__fp__", fp)
    survivors = tagged.join(
        seen.select(F.col("fingerprint").alias("__fp__")),
        on="__fp__", how="left_anti",
    ).unionByName(tagged.where(F.col("__fp__").isNull()))
    return dedup_exact(survivors.drop("__fp__"), text_col, id_col)


def snm_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs — the classic entity-
    resolution blocking alternative to MinHash/LSH (:func:`fuzzy_join`):
    sort records by a blocking key, pair every two records whose sort
    RANKS are within ``window``.  Catches near-dups whose leading
    characters agree (name/address dedup) where token-set methods miss
    transpositions further in.

    Scale shape: ranks come from the distinct-KEY relation (the
    :func:`~riptable_spark.operators.window.rankdata` trick — the fact
    table is never globally sorted), each record probes its own and the
    next rank-bucket (stencil explode on ONE side, grid_neighbor_join's
    each-pair-once discipline), and the join is an EQUI-join on the
    bucket id.  Candidates = O(n·window), never n².  Returns
    (id_a, id_b, key_a, key_b, rank_dist) with rank_dist < window.
    """
    from .window import rankdata

    base = df.select(F.col(id_col).alias("__id__"), F.col(key_col).alias("__key__"))
    ranked = rankdata(base, "__key__", out_col="__rank__", method="min").select(
        "__id__", "__key__", F.col("__rank__").cast("long").alias("__rank__")
    )
    bkt = ((F.col("__rank__") - 1) / window).cast("long")
    left = ranked.select(
        F.col("__id__").alias("id_a"), F.col("__key__").alias("key_a"),
        F.col("__rank__").alias("r_a"),
        F.explode(F.array(bkt, bkt + 1)).alias("__b__"),
    )
    right = ranked.select(
        F.col("__id__").alias("id_b"), F.col("__key__").alias("key_b"),
        F.col("__rank__").alias("r_b"), bkt.alias("__b__"),
    )
    pairs = left.join(right, on="__b__").where(
        (
            (F.col("r_a") < F.col("r_b"))
            | ((F.col("r_a") == F.col("r_b")) & (F.col("id_a") < F.col("id_b")))
        )
        & (F.col("r_b") - F.col("r_a") < window)
    )
    return pairs.select(
        "id_a", "id_b", "key_a", "key_b",
        (F.col("r_b") - F.col("r_a")).alias("rank_dist"),
    )


def golden_record(
    df: DataFrame,
    component_col: str,
    fields: dict,
    order_col: str | None = None,
) -> DataFrame:
    """Field-level survivorship: build ONE canonical ("golden") record
    per duplicate cluster by choosing each field independently — the
    merge step after :func:`graph.connected_components`/:func:`keep_best`
    (which keep a whole ROW; real MDM picks the freshest email from one
    record and the most frequent name from another).

    ``fields`` maps column → strategy: ``'latest'`` (value at the max
    ``order_col`` among non-null rows — max_by ignores NULL keys in
    both engines), ``'max'`` / ``'min'``, or ``'mode'`` (most frequent
    value, smallest-value tie-break).  latest/max/min fuse into ONE
    hash agg; each mode field adds one (component, value) count agg
    joined back (mode is not a single-pass aggregate).  All choices are
    integer/argmax-deterministic.  Returns one row per component.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_members")]
    mode_fields = []
    for col, strat in fields.items():
        if strat == "latest":
            if order_col is None:
                raise ValueError("strategy 'latest' needs order_col")
            key = F.when(F.col(col).isNotNull(), F.col(order_col))
            aggs.append(F.max_by(F.col(col), key).alias(col))
        elif strat == "max":
            aggs.append(F.max(col).alias(col))
        elif strat == "min":
            aggs.append(F.min(col).alias(col))
        elif strat == "mode":
            mode_fields.append(col)
        else:
            raise ValueError(f"unknown strategy {strat!r} for {col}")
    out = df.groupBy(F.col(component_col).alias("component")).agg(*aggs)
    for col in mode_fields:
        counts = (
            df.where(F.col(col).isNotNull())
            .groupBy(F.col(component_col).alias("component"), F.col(col))
            .agg(F.count(F.lit(1)).alias("__c__"))
        )
        best = counts.groupBy("component").agg(
            F.min_by(
                F.col(col), F.struct((-F.col("__c__")).alias("neg"), F.col(col).alias("v"))
            ).alias(col)
        )
        out = out.join(best, on="component", how="left")
    return out


def fellegi_sunter(
    pairs: DataFrame,
    fields: list[tuple[str, tuple[int, int], tuple[int, int]]],
    threshold: tuple[int, int] = (2, 1),
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring over
    candidate pairs: each field contributes likelihood ratio m/u on
    agreement and (1−m)/(1−u) on disagreement; the match weight is the
    product.

    All probabilities are RATIONAL parameters (m = m_num/m_den,
    u = u_num/u_den), so the weight accumulates as exact integer
    numerator/denominator products (a handful of small factors — far
    under 2^53), the weight itself is ONE divide, and the match
    decision is an integer cross-multiplication against the rational
    threshold — no log-odds float sums anywhere (the dirichlet_qlm
    product-of-ratios discipline).  ``fields`` is a list of
    (agreement_bool_col, (m_num, m_den), (u_num, u_den)); NULL
    agreements count as disagreement.  Returns the input plus
    (fs_num, fs_den, fs_weight, is_match).
    """
    num = F.lit(1).cast("long")
    den = F.lit(1).cast("long")
    for col, (mn, md), (un, ud) in fields:
        a = F.coalesce(F.col(col), F.lit(False))
        num = num * F.when(a, F.lit(int(mn) * int(ud))).otherwise(F.lit((int(md) - int(mn)) * int(ud)))
        den = den * F.when(a, F.lit(int(md) * int(un))).otherwise(F.lit(int(md) * (int(ud) - int(un))))
    tn, td = int(threshold[0]), int(threshold[1])
    return pairs.select(
        "*",
        num.alias("fs_num"),
        den.alias("fs_den"),
        (num / den).alias("fs_weight"),
        (num * F.lit(td) > den * F.lit(tn)).alias("is_match"),
    )


def gower_distance(
    pairs: DataFrame,
    numeric_fields: list[tuple[str, str, int]],
    categorical_fields: list[tuple[str, str]],
) -> DataFrame:
    """Gower mixed-type record distance over candidate pairs: numeric
    fields contribute |a−b|/range, categorical fields contribute
    0/1 mismatch, and the distance is the mean over fields.

    ``numeric_fields`` is a list of (col_a, col_b, range_scaled) with
    INTEGER-scaled columns and a caller-supplied positive integer range
    (compute it with one tiny agg first — keeping it a parameter keeps
    this a pure projection); ``categorical_fields`` is (col_a, col_b).
    Each numeric term is ONE divide of exact integers; the mean is a
    fixed float tree (k ≤ a handful of terms), so the distance is
    engine-identical.  NULL on either side makes a field contribute
    its worst case (1).  Returns the input plus per-field ``d_<col>``
    terms and ``gower``.
    """
    terms = []
    names = []
    for ca, cb, rng in numeric_fields:
        t = F.when(
            F.col(ca).isNotNull() & F.col(cb).isNotNull(),
            F.abs(F.col(ca).cast("long") - F.col(cb).cast("long")) / F.lit(int(rng)),
        ).otherwise(F.lit(1.0))
        t = F.least(t, F.lit(1.0))
        terms.append(t)
        names.append(f"d_{ca}")
    for ca, cb in categorical_fields:
        t = F.when(F.col(ca).isNotNull() & F.col(cb).isNotNull(),
                   (F.col(ca) != F.col(cb)).cast("double")).otherwise(F.lit(1.0))
        terms.append(t)
        names.append(f"d_{ca}")
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    k = len(terms)
    sel = [F.col(c) for c in pairs.columns]
    sel += [t.alias(nm) for t, nm in zip(terms, names)]
    sel.append((total / F.lit(float(k))).alias("gower"))
    return pairs.select(*sel)


def tf_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Exact TERM-FREQUENCY-weighted Jaccard similarity for all pairs
    sharing ≥1 token:  J_w(A,B) = Σ_t min(tf_A(t), tf_B(t)) /
    Σ_t max(tf_A(t), tf_B(t)) — the multiset generalization of
    :func:`ngram_jaccard_pairs` (set Jaccard saturates on documents that
    repeat a small shared vocabulary; the weighted form keeps
    discriminating, which is what near-dup detection over templated /
    boilerplate-heavy corpora needs).

    The union weight never needs its own pass:  Σmax = S_A + S_B − Σmin
    (tokens on one side only contribute their tf; shared tokens
    contribute a+b−min).  So the plan is the set-Jaccard plan with tf
    carried through: one explode + (doc, token) count, a token-keyed
    equi-join producing Σ min(tf_a, tf_b) per pair, and per-doc total
    sizes joined in.  All integers; the final similarity is ONE divide.
    ``max_doc_freq_frac`` is the same stopword-skew guard as the set
    version: a token present in more than that fraction of documents is
    dropped BEFORE the self-join (documented filtered-universe
    semantics)."""
    toks = F.array_remove(_word_shingles(text_col, 1), "")
    inter = _shared_shingle_pairs(df, id_col, toks, weighted=True, max_doc_freq_frac=max_doc_freq_frac)
    jac = F.col("w_shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("w_shared")
    ).cast("double")
    return inter.select(
        "id_a", "id_b", "w_shared", "size_a", "size_b", jac.alias("w_jaccard")
    ).where(jac >= F.lit(threshold).cast("double"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT C(A,B) = |A∩B| / |A| for ordered pairs
    sharing ≥1 shingle — the asymmetric sibling of
    :func:`ngram_jaccard_pairs` (Broder's distinction: resemblance
    finds near-COPIES; containment finds docs EMBEDDED in larger ones —
    a quote-with-commentary page scores low Jaccard against its source
    but containment ≈ 1, exactly the case corpus dedup misses on
    resemblance alone).

    Both directions of every unordered pair are emitted (C(A,B) and
    C(B,A) differ).  The plan is the Jaccard plan — explode distinct
    shingles, token-keyed equi-join, per-pair intersection count, sizes
    joined in — read once per direction; the similarity is ONE divide
    of exact BIGINTs.
    ``max_doc_freq_frac`` is the same ubiquitous-shingle skew guard
    (filtered-universe semantics)."""
    inter = _shared_shingle_pairs(
        df, id_col, _word_shingles(text_col, n), weighted=False, max_doc_freq_frac=max_doc_freq_frac
    )
    both = F.array(
        F.struct("id_a", "id_b", "n_shared", "size_a"),
        F.struct(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "n_shared",
            F.col("size_b").alias("size_a"),
        ),
    )
    c = F.col("n_shared").cast("double") / F.col("size_a").cast("double")
    return inter.select(F.inline(both)).select(
        "id_a", "id_b", "n_shared", "size_a", c.alias("containment")
    ).where(c >= F.lit(threshold).cast("double"))
