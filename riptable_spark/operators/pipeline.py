"""Training-data pipeline operators beyond the reference's surface:
benchmark decontamination, deterministic splits, repetition metrics,
sequence packing, stratified sampling.

These are the operations a 100 TB pretraining-corpus pipeline runs after
dedup (operators/dedup.py) and quality scoring (operators/text.py). All
are DataFrame-native: the only Python that ever touches row data is in
the (none) — every operator below is whole-stage-codegen Column algebra
or a keyed aggregation, so they inherit Spark's scan pruning, AQE and
spill behavior unchanged.

Determinism discipline: anything sampling- or split-shaped derives its
randomness from a HASH of a stable id (never rand()), so reruns, retries
and speculative tasks agree — the property a multi-week 100 TB ingest
actually needs. ``hash_kind='md5'`` mirrors dedup._base_hash64: a
portable 60-bit hash DuckDB reproduces exactly, used by the
oracle-checked contract queries; production callers keep the faster
``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _base_hash64, shingles
from .apply import grouped_apply
from .rounds import checkpoint


def _hash_bucket(col: Column, buckets: int, hash_kind: str = "xxhash64") -> Column:
    """Deterministic bucket in [0, buckets) from a stable id column."""
    return F.pmod(_base_hash64(col.cast("string"), hash_kind), F.lit(buckets))


# ----------------------------------------------------------- decontamination
def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: per-document count of word n-gram TYPES
    shared with any benchmark text; documents reaching ``min_hits`` are
    the contaminated set (the caller anti-joins them away or keeps the
    counts for auditing).

    Scale shape: the benchmark side (eval suites — thousands of items,
    not billions) reduces to a DISTINCT shingle relation that is
    BROADCAST; the corpus side explodes to (doc, shingle) and
    map-side-joins against it, so the only shuffle is the per-doc count
    aggregation carrying (id, 1) pairs for matched shingles only. The
    corpus text itself never shuffles.
    """
    g = F.explode(shingles(F.col(text_col), n=n)).alias("__g__")
    corpus = df.select(F.col(id_col), g)
    bench = benchmark.select(F.explode(shingles(F.col(text_col), n=n)).alias("__g__")).distinct()
    hits = (
        corpus.join(F.broadcast(bench), on="__g__")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )
    return hits


# ----------------------------------------------------------------- splitting
def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    hash_kind: str = "xxhash64",
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic train/val/test split: bucket = hash(id) % buckets,
    thresholds from cumulative ``weights`` (insertion order). Pure
    codegen projection — no shuffle, no RNG state; a row lands in the
    same split on every rerun, retry, and cluster size, which is the
    invariant that keeps eval sets honest across pipeline versions.
    """
    total = sum(weights.values())
    b = _hash_bucket(F.col(id_col), buckets, hash_kind)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = b < int(round(acc * buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


# ---------------------------------------------------------------- repetition
def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition metrics (the Gopher-rule family):
    dup_token_frac (1 − distinct/total tokens), dup_2gram_frac (same
    over bigram types), top_token_frac (mass of the single most frequent
    token). All horizontal array algebra over the token array — zero
    shuffles, and the token array is built once per metric group.

    top_token_frac is O(distinct × total) per row via nested HOFs —
    fine for documents (10²-10⁴ tokens), deliberately NOT a groupBy so
    no row ever leaves its partition."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    grams = shingles(F.col(text_col), n=2)  # already distinct types
    # total bigram windows = n-1 (shingles() de-dups, so count windows
    # from the token count, not the gram array)
    n2 = F.greatest(n - 1, F.lit(1))
    nd2 = F.size(grams)
    # let-bind the token array: referencing `toks` inside the per-
    # distinct-token lambda would re-run the split once per type
    top = F.array_max(
        F.transform(
            F.array(toks),
            lambda ts: F.transform(
                F.array_distinct(ts), lambda x: F.size(F.filter(ts, lambda y: y == x))
            ),
        ).getItem(0)
    )
    return df.select(
        F.col(id_col),
        (F.lit(1.0) - nd.cast("double") / n.cast("double")).alias("dup_token_frac"),
        (F.lit(1.0) - nd2.cast("double") / n2.cast("double")).alias("dup_2gram_frac"),
        (top.cast("double") / n.cast("double")).alias("top_token_frac"),
    )


# ------------------------------------------------------------------- packing
def pack_sequences(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    token_col: Column | str,
    budget: int,
) -> DataFrame:
    """Deterministic contiguous sequence packing: within each group (the
    unit a real pipeline packs — a shard, a domain, a language), walk
    documents in ``order_col`` order and assign bin = floor(exclusive
    prefix-sum of tokens / budget). Documents never reorder, bins are
    reproducible, and each group packs independently — embarrassingly
    parallel, one window shuffle on the group key.

    (Bins can exceed ``budget`` by at most one document — the standard
    contiguous-packing contract; an exact bin-capacity packer would need
    sequential state and is what ``applyInPandas`` is for if required.)
    """
    from pyspark.sql import Window

    t = F.col(token_col) if isinstance(token_col, str) else token_col
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(t).over(w), F.lit(0))
    return df.withColumn("bin", F.floor(prefix / F.lit(budget)))


# ------------------------------------------------------------------ sampling
def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    hash_kind: str = "xxhash64",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum sampling (domain re-weighting / corpus
    mixing): keep a row iff hash(id) % buckets < fraction(stratum) ×
    buckets. The fraction map rides as a literal CASE — no shuffle, no
    sampleBy RNG; the kept set is a pure function of (id, fractions), so
    a re-run of the mix step is byte-identical. Strata absent from
    ``fractions`` keep fraction 0 (dropped) — pass 1.0 to passthrough.
    """
    b = _hash_bucket(F.col(id_col), buckets, hash_kind)
    frac = None
    for k, v in fractions.items():
        cond = F.col(strata_col) == F.lit(k)
        frac = F.when(cond, F.lit(v)) if frac is None else frac.when(cond, F.lit(v))
    frac = F.lit(0.0) if frac is None else frac.otherwise(F.lit(0.0))
    return df.where(b < (frac * buckets).cast("long"))


def pack_sequences_ffd(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Exact-capacity packing: first-fit-decreasing WITHIN each shard
    group — no bin ever exceeds ``budget`` (documents longer than the
    budget get singleton bins). This needs sequential state, so it is
    the honest ``applyInPandas`` case (SURVEY §4.2): one shuffle on the
    group key, then a per-group numpy pass; groups pack independently,
    so parallelism = number of shards regardless of corpus size.

    Deterministic: items are processed in (tokens DESC, order_col ASC)
    order and placed in the lowest-numbered bin that fits — a pure
    function of the group's contents.
    """
    import pandas as pd
    from pyspark.sql import types as T

    # build a FRESH StructType — StructType.add mutates in place, which
    # would corrupt the input DataFrame's cached schema object
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField("bin", T.LongType())])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [token_col, order_col], ascending=[False, True], kind="mergesort"
        )
        space: list[int] = []  # remaining capacity per bin
        bins = []
        for t in pdf[token_col]:
            t = int(t)
            for b, rem in enumerate(space):
                if rem >= t:
                    space[b] = rem - t
                    bins.append(b)
                    break
            else:
                space.append(max(budget - t, 0))
                bins.append(len(space) - 1)
        pdf = pdf.copy()
        pdf["bin"] = bins
        return pdf

    return grouped_apply(df, group_cols, pack, out_schema)


# ------------------------------------------------------------------
# PII scrubbing (CCNet/C4-style pre-training hygiene): regex redaction
# as pure codegen regexp_replace chains — a 100 TB scrub pass is a
# parquet scan, zero shuffles. Patterns stay in the RE2-compatible
# subset so the DuckDB oracle replays them verbatim.
# ------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    # order matters: longer/more-specific first so e.g. credit cards are
    # not half-eaten by the phone pattern
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_counts(col: Column, patterns: dict[str, str] | None = None) -> list[Column]:
    """Per-kind PII match counts (aliased ``n_<kind>``) — regexp_count is
    codegen; use for audit metrics before/after scrubbing."""
    pats = patterns or PII_PATTERNS
    return [F.regexp_count(col, F.lit(p)).alias(f"n_{k}") for k, p in pats.items()]


def scrub_pii(
    df,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement_fmt: str = "[{kind}]",
    out_col: str | None = None,
    with_counts: bool = True,
):
    """Redact PII spans with typed placeholders ('[EMAIL]', '[IPV4]', …)
    in dict order (specific → general). Adds ``n_<kind>`` pre-scrub
    audit counts unless ``with_counts=False``. Everything is a
    regexp_replace/regexp_count projection — no shuffle, no UDF."""
    pats = patterns or PII_PATTERNS
    out = out_col or f"{text_col}_scrubbed"
    scrubbed = F.col(text_col)
    for kind, pat in pats.items():
        scrubbed = F.regexp_replace(scrubbed, pat, replacement_fmt.format(kind=kind.upper()))
    cols = [df[c] for c in df.columns] + [scrubbed.alias(out)]
    if with_counts:
        cols += pii_counts(F.col(text_col), pats)
    return df.select(*cols)


def filter_blocklist(df, col: str, blocked, keep: bool = False):
    """Source/domain blocklist filtering (the C4 corpus drops documents
    from blocklisted domains). ``blocked`` is either a Python list
    (compiles to a literal isin — pure codegen, the common case: curated
    blocklists are thousands of entries) or a DataFrame with the same
    column name (broadcast anti-join — the jumbo-blocklist shape).
    ``keep=True`` inverts to an allowlist."""
    from pyspark.sql import DataFrame as _DF

    if isinstance(blocked, _DF):
        how = "left_semi" if keep else "left_anti"
        return df.join(F.broadcast(blocked.select(col).distinct()), on=col, how=how)
    pred = F.col(col).isin(list(blocked))
    return df.where(pred if keep else ~pred)


def sample_k_per_group(
    df,
    group_cols: list[str],
    k: int,
    id_col: str,
    hash_kind: str = "xxhash64",
):
    """Deterministic exact-k sample per group (per-language caps, per-
    source balancing): rank rows inside each group by hash(id) — a
    uniform random order that is rerun-stable with no RNG state — and
    keep the first k. One keyed window shuffle; groups sample
    independently, so skew is bounded by the biggest group's sort (use
    the md5 hash_kind for SQL-replayable oracles)."""
    from pyspark.sql import Window

    h = _hash_bucket(F.col(id_col), 1 << 61, hash_kind)
    w = Window.partitionBy(*group_cols).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__srn__", F.row_number().over(w))
        .where(F.col("__srn__") <= k)
        .drop("__srn__")
    )


# ----------------------------------------------------------------- chunking
def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the context-window prep step of a training pipeline. Chunk starts
    are 0, step, 2·step… (step = chunk_size − overlap) while start <
    len; the final chunk may be short (kept — truncating it drops
    tail text). Pure codegen: sequence → posexplode → substring, ZERO
    shuffles, each document chunks inside its own partition (plan-
    gated). Empty/NULL documents yield no chunks. Returns (id,
    chunk_id, chunk, chunk_len)."""
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    step = chunk_size - overlap
    t = F.col(text_col)
    base = df.where(F.length(t) > 0)
    starts = F.sequence(F.lit(0), F.length(t) - 1, F.lit(step))
    out = base.select(
        F.col(id_col), t.alias("__t__"), F.posexplode(starts).alias("chunk_id", "__s__")
    )
    chunk = F.substring(F.col("__t__"), F.col("__s__") + 1, chunk_size)
    return out.select(
        F.col(id_col), F.col("chunk_id"), chunk.alias("chunk"), F.length(chunk).alias("chunk_len")
    )


# ------------------------------------------------------- mixture sampling
def mixture_sample(
    df: DataFrame,
    domain_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    hash_kind: str = "xxhash64",
    buckets: int = 100_000,
) -> DataFrame:
    """Deterministic per-domain downsampling: keep a row iff
    hash(id) % buckets < rate(domain) × buckets. The rate lookup is a
    literal CASE chain and the filter is a pure codegen projection —
    ZERO shuffles, no RNG, rerun/cluster-size stable (the same
    id-hash discipline as ``hash_split``, so a row's fate never
    changes across pipeline versions). Rates for unlisted domains
    default to ``default_rate``."""
    b = _hash_bucket(F.col(id_col), buckets, hash_kind)
    thr = None
    for dom, rate in rates.items():
        t = F.lit(int(rate * buckets))
        thr = F.when(F.col(domain_col) == dom, t) if thr is None else thr.when(F.col(domain_col) == dom, t)
    thr = F.lit(int(default_rate * buckets)) if thr is None else thr.otherwise(F.lit(int(default_rate * buckets)))
    return df.where(b < thr)


def temperature_rates(
    df: DataFrame, domain_col: str, temperature: float = 2.0
) -> dict[str, float]:
    """Temperature-flattened mixture rates (the multilingual-training
    convention: post-sampling domain share ∝ p_d^(1/T)): rate_d ∝
    p_d^(1/T − 1), normalized so the largest rate is 1.0 — rare
    domains keep everything, over-represented domains downsample.
    T=1 keeps the natural distribution; T→∞ equalizes domain counts.
    One tiny count aggregate (≤ n_domains rows) comes to the driver —
    bounded like qcut's edge collect; feed the result to
    ``mixture_sample``."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = {r[0]: r[1] for r in df.groupBy(domain_col).agg(F.count(F.lit(1))).collect()}
    total = sum(counts.values())
    alpha = 1.0 / temperature
    raw = {d: (n / total) ** (alpha - 1.0) for d, n in counts.items()}
    mx = max(raw.values())
    return {d: w / mx for d, w in raw.items()}


# ------------------------------------------------- bloom decontamination
def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    import math as _math

    m = max(64, int(_math.ceil(-n_items * _math.log(fpp) / (_math.log(2) ** 2))))
    k = max(1, int(round(m / max(n_items, 1) * _math.log(2))))
    return m, k


def build_bloom(
    df: DataFrame,
    col_expr: Column,
    n_items: int,
    fpp: float = 0.01,
    hash_kind: str = "xxhash64",
    m: int | None = None,
    k: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Distributed Bloom-filter build over a column: k=ln2·m/n hash
    positions per item, bit-set via dynamic shifts, ONE tiny
    groupBy(word_index) bit_or aggregate (≤ m/63 rows), then densify on
    the driver. Words hold 63 bits (the sign bit stays clear — DuckDB's
    BIGINT shift overflows at bit 63, and keeping one convention makes
    the md5 portable mode SQL-replayable bit-for-bit). Returns
    (single-row DataFrame with the filter as array<long>, m, k) —
    broadcast it and probe with ``bloom_hit``. The filter is a few MB
    REGARDLESS of item count — the whole point at scale.
    ``hash_kind='md5'`` is the DuckDB-portable stream (position i =
    md5_60bit(s || '|' || i) % m); production uses xxhash64.
    Explicit ``m``/``k`` override the fpp sizing (oracles fix them)."""
    if m is None or k is None:
        m, k = _bloom_params(n_items, fpp)
    nwords = (m + 62) // 63
    spark = df.sparkSession
    entries = F.explode(
        F.array(*[_bloom_pos(col_expr, i, m, hash_kind) for i in range(k)])
    ).alias("__pos__")
    words = (
        df.select(entries)
        .select(
            (F.col("__pos__") / 63).cast("int").alias("__w__"),
            # dynamic shift amount — F.shiftleft only takes literal counts
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos__ % 63 AS INT))").alias("__m__"),
        )
        .groupBy("__w__").agg(F.bit_or("__m__").alias("__bits__"))
        .collect()
    )
    dense = [0] * nwords
    for r in words:
        dense[r["__w__"]] = r["__bits__"]
    bf = spark.createDataFrame([(dense,)], "__bf__ array<long>")
    return bf, m, k


def _bloom_pos(col_expr: Column, i: int, m: int, hash_kind: str) -> Column:
    from .dedup import _base_hash64

    if hash_kind == "md5":
        return F.pmod(
            _base_hash64(F.concat_ws("|", col_expr.cast("string"), F.lit(str(i))), "md5"),
            F.lit(m),
        )
    return F.pmod(F.xxhash64(col_expr, F.lit(i)), F.lit(m))


def bloom_hit(col_expr: Column, m: int, k: int, bf_col: Column = None, hash_kind: str = "xxhash64") -> Column:
    """Membership probe against a Bloom filter carried as array<long>
    (column ``__bf__`` from ``build_bloom`` after a broadcast
    crossJoin): AND over the k bit tests — pure codegen. 63-bit word
    convention (see build_bloom)."""
    bf = bf_col if bf_col is not None else F.col("__bf__")
    hit = None
    for i in range(k):
        pos = _bloom_pos(col_expr, i, m, hash_kind)
        word = F.element_at(bf, (pos / 63).cast("int") + 1)
        test = F.getbit(word, (pos % 63).cast("int")) == 1
        hit = test if hit is None else hit & test
    return hit


def decontaminate_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
    fpp: float = 0.001,
    hash_kind: str = "xxhash64",
    m: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Bloom-filter decontamination — the scale dial when the benchmark
    gram set is too large to broadcast exactly (``decontaminate``
    broadcasts every distinct gram; this broadcasts a fixed-size bit
    array — a few MB for hundreds of millions of grams). NO false
    negatives (every truly contaminated document is flagged with
    n_hits ≥ its true hit count); false positives bounded by ``fpp``
    per gram probe. The corpus text never shuffles; the only exchange
    is the per-doc count of grams that hit the filter."""
    bench_grams = benchmark.select(F.explode(shingles(F.col(text_col), n=n)).alias("__g__")).distinct()
    if m is None or k is None:
        n_items = bench_grams.count()
        m, k = _bloom_params(max(n_items, 1), fpp)
    bf, m, k = build_bloom(bench_grams, F.col("__g__"), 1, fpp, hash_kind=hash_kind, m=m, k=k)
    corpus = df.select(F.col(id_col), F.explode(shingles(F.col(text_col), n=n)).alias("__g__"))
    probed = corpus.crossJoin(F.broadcast(bf)).where(bloom_hit(F.col("__g__"), m, k, hash_kind=hash_kind))
    return (
        probed.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    hash_kind: str = "xxhash64",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-row weighted sampling: keep a row iff
    hash(id) % buckets < weight × buckets, where weight ∈ [0, 1] is a
    per-ROW column (quality score, decay factor…). The hash plays the
    role of a uniform draw that is a pure function of the id — so the
    kept set is rerun/retry/cluster-size stable AND each row's keep
    probability equals its weight. Zero shuffle."""
    b = _hash_bucket(F.col(id_col), buckets, hash_kind)
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.where(b < (w * buckets).cast("long"))


def shuffle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    n_buckets: int = 1024,
    hash_kind: str = "xxhash64",
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every row
    gets ``pos_col`` — its exact 0-based position in the order sorted by
    hash(id, seed) — without ever sorting the table through one
    partition. Scale shape: rows hash into ``n_buckets`` ordered
    buckets; positions = (bucket offset from a tiny n_buckets-row
    cumulative aggregate) + (rank within the bucket, a partitioned
    window). A different ``seed`` yields an independent epoch
    permutation; the same seed is rerun/retry/cluster-size stable. Ties
    (hash collisions) break on the id so the order is total."""
    from pyspark.sql import Window

    h = _base_hash64(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed))), hash_kind)
    # bucket = high bits of the hash, so bucket order is a PREFIX of hash
    # order (a mod bucket would interleave ranges and break global
    # positions). Arithmetic shift keeps signed xxhash64 monotonic; md5
    # mode yields 60-bit non-negative hashes, so shift from bit 60.
    k = max(1, (n_buckets - 1).bit_length())
    shift = (60 if hash_kind == "md5" else 64) - k
    hashed = df.withColumn("__h__", h).withColumn(
        "__b__", F.shiftright(F.col("__h__"), shift)
    )
    counts = hashed.groupBy("__b__").agg(F.count(F.lit(1)).alias("__n__"))
    wo = Window.orderBy("__b__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("__off__", F.coalesce(F.sum("__n__").over(wo), F.lit(0)))
    wb = Window.partitionBy("__b__").orderBy("__h__", id_col)
    return (
        hashed.join(F.broadcast(offsets.select("__b__", "__off__")), "__b__")
        .withColumn(pos_col, (F.col("__off__") + F.row_number().over(wb) - 1).cast("long"))
        .drop("__h__", "__b__", "__off__", "__n__")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    hash_kind: str = "xxhash64",
    buckets: int = 1000,
    max_iter: int = 20,
) -> DataFrame:
    """Train/eval split by NEAR-DUP CLUSTER, not by row: resolve the
    candidate-pair graph to connected components, use the component
    representative as the hash_split key, so every chained near-duplicate
    of a training document lands in the SAME split — the eval set can
    never contain a near-copy of a training row (split leakage, the
    failure mode a per-row hash_split cannot prevent). Rows in no pair
    split by their own id, bit-identical to plain hash_split. Costs the
    component fixpoint (one keyed shuffle per round over the PAIR graph,
    which is tiny next to the corpus) + one join; the split itself stays
    a zero-shuffle projection."""
    from .graph import connected_components

    comp = connected_components(pairs, id_a, id_b, max_iter)
    lab = df.join(comp.withColumnRenamed("node", id_col), on=id_col, how="left")
    keyed = lab.withColumn("__gkey__", F.coalesce(F.col("component"), F.col(id_col)))
    return hash_split(keyed, "__gkey__", weights, hash_kind, buckets).drop("__gkey__", "component")


# ------------------------------------------------- fuzzy decontamination
def decontaminate_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text: str = "text",
    bench_id: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_kind: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: drop every corpus row
    whose text is an approximate copy of any benchmark item (banded
    MinHash candidates across corpus x benchmark, exact n-gram Jaccard
    verify >= ``threshold``).  The n-gram-overlap decontaminate() above
    catches verbatim leakage; this catches the paraphrased/reformatted
    eval copies that survive exact-gram matching (the contamination mode
    measured in public LLM-eval audits).

    Scale shape (inherited from dedup.fuzzy_join): each side reduces to
    its MinHash signature relation, candidates come from an EQUI-join on
    (band_idx, band_hash) carrying ids only, and the Jaccard verify
    joins shingle sets back BY id — sized by |candidates|, never
    |corpus| x |benchmark|.  The corpus text itself crosses the wire
    only inside its own signature aggregation; the final removal is a
    broadcast-able LEFT ANTI join on the (tiny) contaminated-id set.
    Returns the cleaned corpus with original columns."""
    from .dedup import fuzzy_join

    pairs = fuzzy_join(
        df, benchmark,
        left_text=text_col, right_text=bench_text,
        left_id=id_col, right_id=bench_id,
        threshold=threshold, num_perm=num_perm, bands=bands,
        shingle_n=shingle_n, hash_kind=hash_kind, max_bucket=max_bucket,
    )
    contaminated = pairs.select(F.col(id_col + "_l").alias(id_col)).distinct()
    return df.join(contaminated, on=id_col, how="left_anti")


# ------------------------------------------- DSIR importance resampling
def importance_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text: str = "text",
    n_buckets: int = 4096,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, public
    method): score each raw-corpus document by how target-like its token
    distribution is.  Tokens hash into ``n_buckets`` feature buckets;
    add-1-smoothed unigram bucket models are fit on the TARGET corpus
    (the distribution you want more of) and on the RAW corpus; a
    document's weight is the mean per-token log-likelihood ratio
    log p_target(bucket) - log p_raw(bucket).

    Scale shape: both bucket models are ``n_buckets``-row aggregates
    (map-side combined counts), broadcast into the scoring join — the
    raw text never shuffles; the only corpus-sized exchange carries
    (id, log-ratio) pairs into the per-doc mean.  Returns
    (id, n_tokens, logratio) — feed to importance_resample or any
    thresholded filter."""
    def bucketed(frame: DataFrame, col: str, keep_id: bool):
        toks = F.split(F.trim(F.lower(F.col(col))), r"\s+")
        cols = [F.col(id_col)] if keep_id else []
        ex = frame.select(*cols, F.explode(toks).alias("__t__")).where(F.length("__t__") > 0)
        return ex.withColumn("__b__", F.pmod(_base_hash64(F.col("__t__"), hash_kind), F.lit(n_buckets)))

    def model(frame: DataFrame, col: str, cname: str, nname: str):
        b = bucketed(frame, col, keep_id=False)
        counts = b.groupBy("__b__").agg(F.count(F.lit(1)).alias(cname))
        total = counts.agg(F.sum(cname).alias(nname))
        return counts, total

    tc, tn = model(target, target_text, "__ct__", "__Nt__")
    rc, rn = model(df, text_col, "__cr__", "__Nr__")
    corpus = bucketed(df, text_col, keep_id=True)
    # add-1 smoothing applied in the scoring select so an EMPTY bucket
    # (absent from the count relation) gets the same (0+1)/(N+B) floor
    # the occupied buckets' formula implies — one consistent model
    lt = F.log((F.coalesce(F.col("__ct__"), F.lit(0)) + 1).cast("double") / (F.col("__Nt__") + n_buckets))
    lr = F.log((F.coalesce(F.col("__cr__"), F.lit(0)) + 1).cast("double") / (F.col("__Nr__") + n_buckets))
    scored = (
        corpus.join(F.broadcast(tc), on="__b__", how="left")
        .join(F.broadcast(rc), on="__b__", how="left")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(rn))
        .select(F.col(id_col), (lt - lr).alias("__llr__"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), F.avg("__llr__").alias("logratio")
    )


def importance_resample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text: str = "text",
    n_buckets: int = 4096,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Select the ``k`` most target-like documents by DSIR importance
    weight (deterministic top-k variant of Xie et al.'s Gumbel-noised
    resampling — reruns and retries agree because ranking is a pure
    function of the data; ties break on id).  At 100 TB the top-k is a
    TakeOrderedAndProject over the (id, weight) relation — the text
    rejoins by id afterward, so the sort never carries document
    payloads."""
    w = importance_weights(df, target, text_col, id_col, target_text, n_buckets, hash_kind)
    top = w.orderBy(F.col("logratio").desc(), F.col(id_col)).limit(k)
    return df.join(top.select(id_col, "logratio"), on=id_col)


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n_stages: int = 4,
    hash_kind: str = "xxhash64",
    buckets: int = 1 << 30,
) -> DataFrame:
    """Curriculum ordering for training: difficulty stages from exact
    score quantile boundaries (stage 0 = easiest), plus a deterministic
    within-stage shuffle draw — the loader streams rows sorted by
    (stage, draw, id) to get easy→hard progression with intra-stage
    mixing that is rerun/retry stable.

    Scale shape: ONE aggregation computes the n_stages−1 exact score
    cutpoints (percentile value-map; score domains plateau), broadcast
    back into a zero-shuffle projection — no global sort, no ntile
    single-partition window.  Rows above cut_i count into stage i+1
    (ties at a cutpoint resolve identically everywhere because the
    cutpoint double is identical everywhere)."""
    qs = [i / n_stages for i in range(1, n_stages)]
    cuts = df.agg(
        F.percentile(F.col(score_col), F.array(*[F.lit(q) for q in qs])).alias("__cuts__")
    )
    j = df.crossJoin(F.broadcast(cuts))
    stage = F.aggregate(
        F.col("__cuts__"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col(score_col) > c, 1).otherwise(0),
    )
    draw = F.pmod(_base_hash64(F.col(id_col).cast("string"), hash_kind), F.lit(buckets))
    return j.select(
        *[c for c in df.columns],
        stage.alias("stage"),
        draw.alias("draw"),
    )


def negative_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    seed: int = 0,
    hash_kind: str = "xxhash64",
    n_buckets: int = 1024,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor row draws ``k`` partners as hash-derived POSITIONS in the
    seed-permuted corpus order (shuffle_rows' exact positions), then a
    position equi-join resolves them to ids — uniform over the corpus, a
    pure function of (id, j, seed) so reruns/retries agree, and never a
    per-row RNG or a driver-side sample.  Self-draws are filtered (an
    anchor keeps ≥ k−1 negatives; redraw-on-collision would need
    sequential state).  Returns (anchor, j, negative).

    Scale shape: positions come from shuffle_rows (bucketed — no global
    sort); the draw relation carries (anchor, j, draw) longs and the
    resolve is one equi-join on the position."""
    n = df.count()
    pos = shuffle_rows(df.select(id_col), id_col, seed, n_buckets, hash_kind)
    draws = df.select(F.col(id_col).alias("anchor")).select(
        "anchor", F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j")
    )
    h = _base_hash64(
        F.concat_ws(
            "#", F.col("anchor").cast("string"), F.col("j").cast("string"), F.lit(str(seed))
        ),
        hash_kind,
    )
    draws = draws.withColumn("__draw__", F.pmod(h, F.lit(n)))
    resolved = draws.join(
        pos.select(F.col(id_col).alias("negative"), F.col("shuffle_pos").alias("__draw__")),
        on="__draw__",
    )
    return resolved.where(F.col("negative") != F.col("anchor")).select("anchor", "j", "negative")


def kfold_split(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    hash_kind: str = "xxhash64",
    out_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: fold = hash(id) % k — the
    cross-validation counterpart of hash_split (zero shuffle, rerun and
    cluster-size stable; leave-fold-i-out is a plain filter)."""
    return df.withColumn(
        out_col, F.pmod(_base_hash64(F.col(id_col).cast("string"), hash_kind), F.lit(k)).cast("int")
    )


def leakage_safe_kfold(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    k: int = 5,
    hash_kind: str = "xxhash64",
    max_iter: int = 20,
) -> DataFrame:
    """k-fold by NEAR-DUP COMPONENT: chained near-duplicates share a
    fold, so no fold's held-out set contains a near-copy of another
    fold's training rows (the leakage_safe_split guarantee for CV).
    Unpaired rows fold by their own id — bit-identical to kfold_split."""
    from .graph import connected_components

    comp = connected_components(pairs, id_a, id_b, max_iter)
    lab = df.join(comp.withColumnRenamed("node", id_col), on=id_col, how="left")
    key = F.coalesce(F.col("component"), F.col(id_col))
    return lab.withColumn(
        "fold", F.pmod(_base_hash64(key.cast("string"), hash_kind), F.lit(k)).cast("int")
    ).drop("component")


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    hash_kind: str = "md5",
    rules: tuple[str, ...] = ("r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_alpha", "r_stopwords"),
) -> DataFrame:
    """End-to-end batch curation: Gopher quality gate → exact dedup
    (min-id survivor per normalized text) → deterministic hash split.
    Returns the curated frame with a ``split`` column — the single-call
    form of the standard pretraining data path.

    Each stage is the already-verified operator (text.gopher_quality_
    flags, dedup.dedup_exact, pipeline.hash_split) so the whole chain
    stays SQL-replayable; shuffle budget = dedup's one fingerprint
    exchange (quality gate and split are pure projections).
    """
    from .dedup import dedup_exact
    from .text import gopher_quality_flags

    flagged = gopher_quality_flags(df, text_col)
    keep = None
    for r in rules:
        keep = F.col(r) if keep is None else keep & F.col(r)
    gated = flagged.where(keep).select(*df.columns)
    deduped = dedup_exact(gated, text_col, id_col)
    return hash_split(deduped, id_col, weights or {"train": 0.8, "val": 0.1, "test": 0.1}, hash_kind=hash_kind)


def greedy_cover(
    df,
    id_col: str,
    gram_col: str,
    k: int,
):
    """Greedy maximum-coverage subset selection: pick ``k`` documents
    that together cover the most distinct grams — the classic
    diversity-selection heuristic for training-data curation (greedy is
    (1−1/e)-optimal, and deterministic here: ties break by smallest id).

    Input is the exploded (id, gram) relation (use the shingle/token
    machinery in ``dedup``/``text`` to build it).  The loop state is the
    uncovered (id, gram) relation, each row carrying its id's gain (a
    count over a window on the id).  Each of the k rounds is one job
    (:func:`.rounds.checkpoint`): it materializes the state and reads
    the argmax as an observed metric; the next state anti-joins the
    winner's grams — k scans total.  At 100 TB choose k modest
    (selection budget), or pre-reduce with ``dedup_exact``.

    Returns a DataFrame (rank, id, marginal_gain) of the k picks
    (fewer if coverage saturates first).
    """

    def with_winner(items):
        gain = F.count(F.lit(1)).over(Window.partitionBy("id"))
        return checkpoint(
            items.select("id", "gram", gain.alias("gain")),
            w=F.max_by(F.struct("id", "gain"), F.struct("gain", (-F.col("id")).alias("nid"))),
        )

    items = df.select(F.col(id_col).alias("id"), F.col(gram_col).alias("gram")).distinct()
    left, m = with_winner(items)
    picks = []
    for rank in range(1, k + 1):
        w = m["w"]
        if w is None:  # every gram covered
            break
        picks.append((rank, w["id"], int(w["gain"])))
        if rank < k:
            won = left.where(F.col("id") == w["id"]).select("gram")
            left, m = with_winner(left.join(won, on="gram", how="left_anti"))
    return df.sparkSession.createDataFrame(picks, "rank long, id long, marginal_gain long")


def stratified_kfold(
    df: DataFrame,
    id_col: str,
    strat_col: str,
    k: int = 5,
    hash_kind: str = "xxhash64",
    out_col: str = "fold",
) -> DataFrame:
    """Stratified k-fold assignment: within each stratum, rows are
    ordered by a deterministic hash of their id and dealt round-robin
    into folds — every fold gets ⌊n_s/k⌋ or ⌈n_s/k⌉ rows of EVERY
    stratum (the class-balance guarantee plain ``kfold_split`` lacks
    for rare classes), while staying RNG-free and rerun-stable.

    One sort window per stratum (hash order, id tiebreak); the hash
    ordering is what makes the deal independent of input partitioning.
    """
    h = _base_hash64(F.col(id_col).cast("string"), hash_kind)
    w = Window.partitionBy(strat_col).orderBy(h.asc(), F.col(id_col).asc())
    return df.withColumn(
        out_col, F.pmod(F.row_number().over(w) - 1, F.lit(k)).cast("int")
    )


def time_series_folds(
    df: DataFrame,
    order_cols: list[str],
    k: int = 5,
    out_col: str = "segment",
) -> DataFrame:
    """Expanding-window time-series cross-validation assignment — the
    temporally-correct eval protocol (each fold trains on the past,
    tests on the next contiguous slice; random k-fold leaks the
    future).

    Rows are split into k+1 equal contiguous segments of the total
    time order: fold f (1..k) trains on segments < f and tests on
    segment f.  The segment id is pure integer arithmetic on the
    global rank (``with_rowid``'s range-bucketed ranks — no
    single-partition window), so the assignment is deterministic,
    engine-replayable, and leakage-free by construction.
    """
    from ..sources.io import with_rowid

    rid = with_rowid(df, *order_cols)
    n = rid.agg(F.count(F.lit(1)).cast("long").alias("__n__"))
    out = rid.crossJoin(F.broadcast(n))
    seg = F.least(
        F.floor((F.col("__rowid__") * (k + 1)) / F.col("__n__")).cast("long"),
        F.lit(k).cast("long"),
    )
    return out.withColumn(out_col, seg).drop("__n__")


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_items: int,
    fpp: float = 0.01,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Semi-join where the BIG side is pre-filtered by a Bloom filter of
    the small side's keys — the scale pattern for "keep fact rows whose
    key appears in a selective-but-not-broadcastable dimension": the
    fact table is pruned HORIZONTALLY (a projection predicate, no
    shuffle, pushdown-friendly) before the exact semi-join sees it, so
    the exchange carries only the ~fpp·|big| survivors plus true
    matches.

    The final exact semi-join makes the result IDENTICAL to a plain
    semi-join (Bloom false positives are re-checked, negatives cannot
    exist) — the filter only shapes the plan.  Returns the filtered
    ``big`` rows.
    """
    keys_df = small.select(F.col(key)).distinct()
    bf, m, k = build_bloom(keys_df, F.col(key).cast("string"), n_items, fpp, hash_kind)
    pruned = big.crossJoin(F.broadcast(bf)).where(
        bloom_hit(F.col(key).cast("string"), m, k, hash_kind=hash_kind)
    ).drop(bf.columns[0])
    return pruned.join(keys_df, on=key, how="left_semi")


def class_weights(
    df: DataFrame,
    label_col: str,
) -> DataFrame:
    """Inverse-frequency class weights for imbalanced training data
    (sklearn's 'balanced' convention): w_c = N / (k·n_c) with k the
    number of classes.  Emitted BOTH as the exact integer rational
    (weight_num = N, weight_den = k·n_c) and as the one-divide double —
    downstream samplers that multiply the rational avoid float error
    entirely.  One hash agg + a broadcast totals row.  Returns
    (label, n_c, n_total, k, weight_num, weight_den, weight).
    """
    byc = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    tot = byc.groupBy().agg(
        F.sum("n_c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    j = byc.crossJoin(F.broadcast(tot))
    return j.select(
        "label", "n_c", "n_total", "k",
        F.col("n_total").alias("weight_num"),
        (F.col("k") * F.col("n_c")).alias("weight_den"),
        (F.col("n_total") / (F.col("k") * F.col("n_c"))).alias("weight"),
    )


def epoch_allocation(
    domains: DataFrame,
    domain_col: str,
    avail_col: str,
    weight_col: str,
    budget: int | None = None,
    max_epochs: int = 4,
    weight_scale: int | None = None,
    budget_ratio: tuple[int, int] | None = None,
) -> DataFrame:
    """Token-budget allocation across domains under per-domain epoch
    caps — the data-constrained-pretraining planner ("repeating data up
    to ~4 epochs is nearly as good as fresh data"; Muennighoff et al.
    2023, public result): give each domain its target-mixture share
    λ·w_i of the budget, but never more than cap_i = max_epochs·avail_i;
    the surplus of capacity-saturated domains WATERFALLS to the rest
    (exact water-filling, not one renormalization pass).

    Exactness: domains sort by the capacity/weight ratio via the exact
    integer key cap_i·(L/w_i) (``weight_scale`` L must be a common
    multiple of the weights — loud ValueError otherwise; a float-ratio
    sort key could reorder near-ties differently per engine); the
    saturation frontier is a prefix of that order, found by the
    cross-multiplied test cap_k·(W−cumw_{k−1}) ≤ (B−cumcap_{k−1})·w_k —
    pure BIGINT.  Unsaturated domains get floor shares plus
    largest-remainder distribution (the q369 pattern), so allocations
    are integers summing EXACTLY to min(budget, Σcap).

    ``budget`` is an absolute token count; ``budget_ratio=(num, den)``
    instead sets spend = (Σcap·num) div den — an exact fraction of
    total capacity, which keeps the saturation branch exercised at any
    corpus size (an absolute budget saturates everything at one SF and
    nothing at 10×).

    Scale shape: ``domains`` is the per-domain AGGREGATE (one row per
    corpus source) — every window here runs over that tiny relation,
    never raw data.  Returns (domain, available, weight, capacity,
    saturated, alloc_tokens, epochs_ppm)."""
    if (budget is None) == (budget_ratio is None):
        raise ValueError("pass exactly one of budget / budget_ratio")
    base = domains.select(
        F.col(domain_col).alias("domain"),
        F.col(avail_col).cast("long").alias("available"),
        F.col(weight_col).cast("long").alias("weight"),
    )
    rows = base.collect() if weight_scale is None else None
    if weight_scale is None:
        # derive L = lcm of the (few) weights driver-side
        import math as _m

        ws = [int(r["weight"]) for r in rows]
        weight_scale = 1
        for w_ in ws:
            weight_scale = weight_scale * w_ // _m.gcd(weight_scale, w_)
        base = domains.sparkSession.createDataFrame(rows, base.schema)
    else:
        # Materialize the per-domain aggregate (one row per corpus
        # source) ONCE: the validation count below, the total/saturated
        # broadcast subtrees and the final sink would otherwise each
        # re-execute the entire upstream pipeline — measured 4× on
        # q652's winnow-clean upstream (14.6 s → one q633 execution).
        # mark_aggregated: the checkpoint hides the aggregation from the
        # plan linter (a checkpointed relation is an RDD scan), so tag
        # the RDD as aggregate-sized instead of allowlisting consumers.
        from ..plans.inspect import mark_aggregated

        base = mark_aggregated(base.localCheckpoint(eager=True))
    L = int(weight_scale)
    E = int(max_epochs)
    cap = (F.lit(E) * F.col("available")).cast("long")
    d = base.select("domain", "available", "weight", cap.alias("cap"))
    # exact ratio sort key: cap * (L / w) — integer iff w | L
    d = d.withColumn("__lw__", (F.lit(L) / F.col("weight")).cast("long"))
    chk = d.where(
        (F.col("__lw__") * F.col("weight") != L) | (F.col("available") <= 0)
    ).count()
    if chk:
        raise ValueError(
            f"weight_scale={L} is not a common multiple of every weight, "
            "or a domain has available <= 0 (epochs_ppm divides by "
            "available; a zero-capacity domain has no defined epoch count)"
        )
    d = d.withColumn("__key__", F.col("cap") * F.col("__lw__"))
    w_ord = Window.orderBy("__key__", "domain")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    d = d.select(
        "*",
        F.coalesce(F.sum("cap").over(w_prev), F.lit(0)).cast("long").alias("__pcap__"),
        F.coalesce(F.sum("weight").over(w_prev), F.lit(0)).cast("long").alias("__pw__"),
    )
    tot = d.agg(
        F.sum("cap").cast("long").alias("__allcap__"),
        F.sum("weight").cast("long").alias("__allw__"),
    )
    d = d.crossJoin(F.broadcast(tot))
    if budget_ratio is not None:
        num, den = int(budget_ratio[0]), int(budget_ratio[1])
        d = d.withColumn(
            "__spend__", F.expr(f"(__allcap__ * {num}) div {den}").cast("long")
        )
    else:
        d = d.withColumn(
            "__spend__",
            F.least(F.lit(int(budget)), F.col("__allcap__")).cast("long"),
        )
    spend = F.col("__spend__")
    # saturated: the domain hits its cap before the fair share at its
    # frontier position (prefix property of the ratio order)
    sat = F.col("cap") * (F.col("__allw__") - F.col("__pw__")) <= (
        spend - F.col("__pcap__")
    ) * F.col("weight")
    d = d.withColumn("saturated", sat)
    sats = d.where("saturated").agg(
        F.coalesce(F.sum("cap"), F.lit(0)).cast("long").alias("__scap__"),
        F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("__sw__"),
    )
    d = d.crossJoin(F.broadcast(sats))
    # integer div throughout: `/` on longs is DOUBLE division in Spark
    # (rounding error above 2^53); stage the operands and use `div`
    d = d.select(
        "*",
        (spend - F.col("__scap__")).cast("long").alias("__rb__"),
        (F.col("__allw__") - F.col("__sw__")).cast("long").alias("__rw__"),
    )
    alloc_floor = F.when(F.col("saturated"), F.col("cap")).otherwise(
        F.expr("(__rb__ * weight) div __rw__")
    ).cast("long")
    rem = F.when(F.col("saturated"), F.lit(0)).otherwise(
        F.expr("(__rb__ * weight) % __rw__")
    ).cast("long")
    d = d.select("*", alloc_floor.alias("__fl__"), rem.alias("__rem__"))
    # largest-remainder: distribute the leftover units to the biggest
    # remainders (ties by domain) so the total hits spend exactly
    short = spend - F.sum("__fl__").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rem = Window.orderBy(F.col("__rem__").desc(), "domain")
    d = d.withColumn("__rk__", F.row_number().over(w_rem)).withColumn(
        "__short__", short.cast("long")
    )
    alloc = F.col("__fl__") + F.when(
        (~F.col("saturated")) & (F.col("__rk__") <= F.col("__short__")), 1
    ).otherwise(0)
    d = d.withColumn("alloc_tokens", alloc.cast("long"))
    return d.select(
        "domain",
        "available",
        "weight",
        F.col("cap").alias("capacity"),
        "saturated",
        "alloc_tokens",
        F.expr("(alloc_tokens * 1000000) div available").cast("long").alias("epochs_ppm"),
    )


def packing_efficiency(
    packed: DataFrame,
    group_cols: list[str],
    token_col: str,
    budget: int,
    bin_col: str = "bin",
) -> DataFrame:
    """Fill-rate audit of a :func:`pack_sequences` run — the report a
    pipeline owner reads before choosing the bin budget: per group, the
    bin count, exact mean fill (ppm of budget, integer div), the count
    of OVERFLOWING bins (contiguous packing lets a bin exceed budget by
    at most its last document — how often that happens is the knob
    check), and the min/max bin fill.

    Two hash aggregations over the already-packed relation ((group,
    bin) → group); all outputs exact integers — engine-exact."""
    per_bin = packed.groupBy(*group_cols, bin_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum(token_col).cast("long").alias("__t__"),
    )
    b = int(budget)
    return per_bin.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("__n__").cast("long").alias("n_docs"),
        F.sum("__t__").cast("long").alias("total_tokens"),
        F.expr(f"CAST((sum(__t__) * 1000000) div (count(1) * {b}) AS BIGINT)").alias(
            "mean_fill_ppm"
        ),
        F.sum(F.when(F.col("__t__") > b, 1).otherwise(0))
        .cast("long")
        .alias("n_overflow_bins"),
        F.min("__t__").cast("long").alias("min_bin_tokens"),
        F.max("__t__").cast("long").alias("max_bin_tokens"),
    )
