"""Text analysis for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, codegen) over the
``documents`` table — no Python in the hot path, so they scan at parquet
speed and scale linearly with executors. No shuffle unless aggregated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language-ID. Deliberately small: the point is a cheap codegen-able
# discriminator, not a model.
_LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to ", " in "],
    "de": [" der ", " die ", " und ", " das ", " nicht "],
    "fr": [" le ", " la ", " les ", " et ", " est "],
    "es": [" el ", " la ", " los ", " que ", " y "],
}


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish proxy: counts word pieces + digits + punctuation runs with
    one regexp pass (the standard GPT-2-style pre-tokenizer shape)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))


def char_count(col: Column) -> Column:
    return F.length(col)


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are English stopwords (quality signal)."""
    sw = stopwords or ["the", "and", "of", "to", "in", "a", "is", "that", "it", "for"]
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column) -> Column:
    no_punct = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(no_punct)) / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col: Column) -> Column:
    no_digit = F.regexp_replace(col, r"[0-9]", "")
    return (F.length(col) - F.length(no_digit)) / F.greatest(F.length(col), F.lit(1))


def mean_word_length(col: Column) -> Column:
    toks = F.split(F.trim(col), r"\s+")
    return F.length(F.regexp_replace(col, r"\s+", "")) / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite heuristic quality score in [0, 1]: rewards sane length,
    low punctuation/digit density, presence of stopwords (prose-ness)."""
    n = F.length(col)
    length_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.least(n.cast("double") / 50.0, F.lit(1.0))
    )
    p = 1.0 - F.least(punct_ratio(col) * 4, F.lit(1.0))
    d = 1.0 - F.least(digit_ratio(col) * 4, F.lit(1.0))
    s = F.least(stopword_ratio(col) * 3, F.lit(1.0))
    return (length_ok + p + d + s) / 4


def lang_id(col: Column) -> Column:
    """Marker-based language ID: pick the language with the most stopword
    marker hits in the (lowercased, padded) text; 'und' when nothing hits.
    One pass of literal `contains` — fully codegen."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        score = None
        for m in markers:
            hit = F.when(padded.contains(m), 1).otherwise(0)
            score = hit if score is None else score + hit
        scores.append((lang, score))
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    for lang, score in reversed(scores):
        out = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint(col: Column) -> Column:
    """Document fingerprint: 64-bit hash of the whitespace/case-normalized
    text (rolling-hash analogue; xxhash64 is the JVM-side primitive)."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.xxhash64(normalized)


def shingle_fingerprint(col: Column, k: int = 8) -> Column:
    """Winnowing-style document fingerprint: minimum hash over all k-char
    shingles (rolling-hash analogue of MOSS). md5 keeps the fingerprint
    engine-portable; the transform runs inside codegen over an index
    sequence — no explode, no shuffle."""
    n = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_min(F.transform(idx, lambda i: F.md5(F.substr(col, i, F.lit(k)))))


# ------------------------------------------------------------------
# C4 / Gopher-style quality-filter rules (public heuristics from the C4
# corpus construction and the Gopher data pipeline). All pure codegen
# expressions — a 100 TB filter pass is a parquet scan, no shuffle.
# ------------------------------------------------------------------

_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _words(col: Column) -> Column:
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def _lines(col: Column) -> Column:
    return F.split(col, "\n")


def word_count(col: Column) -> Column:
    return F.size(_words(col))


def symbol_word_ratio(col: Column, symbols: tuple[str, ...] = ("#", "...")) -> Column:
    """Gopher: (# symbol occurrences) / words — flags hashtag/ellipsis spam."""
    n = F.lit(0)
    for s in symbols:
        lit = s.replace("\\", "\\\\")
        n = n + (F.length(col) - F.length(F.replace(col, F.lit(s), F.lit("")))) / len(s)
    return n / F.greatest(word_count(col), F.lit(1))


def alpha_word_ratio(col: Column) -> Column:
    """Gopher: fraction of words containing at least one alphabetic char."""
    w = _words(col)
    hits = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    return hits / F.greatest(F.size(w), F.lit(1))


def bullet_line_ratio(col: Column) -> Column:
    """Gopher: fraction of lines starting with a bullet marker."""
    ln = _lines(col)
    hits = F.size(F.filter(ln, lambda x: F.trim(x).rlike(r"^[-*•]")))
    return hits / F.greatest(F.size(ln), F.lit(1))


def ellipsis_line_ratio(col: Column) -> Column:
    """Gopher: fraction of lines ending in an ellipsis."""
    ln = _lines(col)
    hits = F.size(F.filter(ln, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$")))
    return hits / F.greatest(F.size(ln), F.lit(1))


def terminal_punct_line_ratio(col: Column) -> Column:
    """C4: fraction of lines ending in terminal punctuation — C4 keeps
    only such lines; the ratio form lets callers threshold instead."""
    ln = _lines(col)
    hits = F.size(F.filter(ln, lambda x: F.trim(x).rlike(r'[.!?"]$')))
    return hits / F.greatest(F.size(ln), F.lit(1))


def stopword_hits(col: Column, stopwords: list[str] | None = None) -> Column:
    """Gopher: number of DISTINCT required stopwords present (≥2 ⇒ doc
    looks like natural language)."""
    sw = stopwords or _REQUIRED_STOPWORDS
    low = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    n = F.lit(0)
    for s in sw:
        n = n + F.when(low.contains(f" {s} "), 1).otherwise(0)
    return n


def has_blocklist_marker(col: Column, markers: tuple[str, ...] = ("lorem ipsum", "javascript", "{")) -> Column:
    """C4: boilerplate/code markers ('lorem ipsum' filler, 'enable
    javascript' warnings, curly braces ⇒ source code). The dirty-word
    blocklist slot takes the same shape — pass a custom tuple."""
    low = F.lower(col)
    out = F.lit(False)
    for m in markers:
        out = out | low.contains(m)
    return out


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Attach the Gopher rule flags + the conjunction ``gopher_keep``.
    Thresholds default to the published Gopher values; every flag is a
    separate column so pipelines can audit which rule fired."""
    t = F.col(text_col)
    return (
        df.withColumn("r_word_count", word_count(t).between(min_words, max_words))
        .withColumn("r_mean_word_len", mean_word_length(t).between(min_mean_word_len, max_mean_word_len))
        .withColumn("r_symbol_ratio", symbol_word_ratio(t) <= max_symbol_ratio)
        .withColumn("r_bullet", bullet_line_ratio(t) <= max_bullet_ratio)
        .withColumn("r_ellipsis", ellipsis_line_ratio(t) <= max_ellipsis_ratio)
        .withColumn("r_alpha", alpha_word_ratio(t) >= min_alpha_ratio)
        .withColumn("r_stopwords", stopword_hits(t) >= min_stopword_hits)
        .withColumn(
            "gopher_keep",
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_symbol_ratio")
            & F.col("r_bullet")
            & F.col("r_ellipsis")
            & F.col("r_alpha")
            & F.col("r_stopwords"),
        )
    )


def c4_quality_flags(df: DataFrame, text_col: str = "text", min_words_per_line: int = 5) -> DataFrame:
    """C4 rule flags: terminal-punctuation line ratio, ≥3 'sentences'
    (terminal-punct hits), no boilerplate markers, and the short-line
    share; conjunction in ``c4_keep``."""
    t = F.col(text_col)
    sentences = F.length(t) - F.length(F.regexp_replace(t, r"[.!?]", ""))
    ln = _lines(t)
    short_lines = F.size(F.filter(ln, lambda x: F.size(F.split(F.trim(x), r"\s+")) < min_words_per_line))
    return (
        df.withColumn("r_terminal_punct", terminal_punct_line_ratio(t).alias("tp"))
        .withColumn("r_sentences", sentences >= 3)
        .withColumn("r_no_marker", ~has_blocklist_marker(t))
        .withColumn("r_short_line_share", short_lines / F.greatest(F.size(ln), F.lit(1)))
        .withColumn("c4_keep", F.col("r_sentences") & F.col("r_no_marker"))
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
) -> DataFrame:
    """Corpus vocabulary for tokenizer training: (token, n, rank) by
    descending frequency, ties by token. The corpus-side cost is ONE
    explode + hash-count (map-side combined — the shuffle carries
    (token, partial count), never documents); the rank window runs over
    the AGGREGATED vocabulary relation (≤ distinct-token count, not
    corpus rows), and ``max_vocab`` truncates by (n desc, token) —
    deterministic on reruns."""
    from pyspark.sql import Window

    toks = _words(F.lower(F.col(text_col)))
    counts = (
        df.select(F.explode(toks).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    ranked = counts.withColumn("rank", F.row_number().over(w))
    if max_vocab is not None:
        ranked = ranked.where(F.col("rank") <= max_vocab)
    return ranked


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the classic cheap LM-quality proxy (low score =
    unusual token distribution = candidate junk). Tokens below
    ``min_count`` fall to the 1/N floor (add-nothing OOV).

    Two aggregations: the model build (token hash-count, map-side
    combined) and the per-doc mean; the model broadcasts into the
    scoring join, so the only corpus-sized shuffle carries
    (doc_id, logp) pairs. Returns (id, n_tokens, avg_logprob)."""
    toks = _words(F.lower(F.col(text_col)))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("token")).where(F.length("token") > 0)
    counts = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("__n__"))
    total = counts.agg(F.sum("__n__").alias("__N__"))
    # rename model's count: model derives from `exploded`, so the join
    # below is a self-join and an un-renamed column resolves ambiguously
    model = counts.where(F.col("__n__") >= min_count).select(
        "token", F.col("__n__").alias("__mn__")
    )
    scored = (
        exploded.join(F.broadcast(model), on="token", how="left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(F.coalesce(F.col("__mn__"), F.lit(1)).cast("double") / F.col("__N__")).alias("__lp__"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"), F.avg("__lp__").alias("avg_logprob")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Per-document mean CONDITIONAL bigram log-probability under the
    corpus's own bigram model: lp(w1 w2) = ln(c(w1 w2) / c1(w1)) where
    c1 counts w1's bigram-first occurrences (so Σ_w2 p(w2|w1) = 1 —
    a proper conditional model, unlike a joint-frequency score), and
    bigrams below ``min_count`` fall to the ln(1/(c1+1)) floor.  The
    fluency complement to unigram_logprob: a document of common words
    in improbable ORDER scores low here but normal there (word-salad /
    shuffled-boilerplate detector).

    Scale shape mirrors unigram_logprob: two model aggregates (bigram
    counts, first-token counts) are map-side-combined and BROADCAST
    into the scoring join; the only corpus-sized exchange carries
    (id, logp) pairs into the per-doc mean.  Returns
    (id, n_bigrams, avg_logprob, perplexity)."""
    toks = _words(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.expr(
            "transform(sequence(1, size({t}) - 1),"
            " i -> concat(element_at({t}, i), ' ', element_at({t}, i + 1)))".format(
                t="_toks__"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = (
        df.where(F.col(text_col).isNotNull())
        .withColumn("_toks__", toks)
        .select(F.col(id_col), F.explode(bigrams).alias("__bg__"))
    )
    ex = ex.withColumn("__w1__", F.split(F.col("__bg__"), " ").getItem(0))
    c12 = ex.groupBy("__bg__").agg(F.count(F.lit(1)).alias("__c12__"))
    c1 = ex.groupBy("__w1__").agg(F.count(F.lit(1)).alias("__c1__"))
    model = c12.where(F.col("__c12__") >= min_count)
    scored = (
        ex.join(F.broadcast(model), on="__bg__", how="left")
        .join(F.broadcast(c1), on="__w1__")
        .select(
            F.col(id_col),
            F.when(
                F.col("__c12__").isNotNull(),
                F.log(F.col("__c12__").cast("double") / F.col("__c1__")),
            )
            .otherwise(F.log(F.lit(1.0) / (F.col("__c1__") + 1)))
            .alias("__lp__"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.avg("__lp__").alias("avg_logprob")
    )
    return agg.withColumn("perplexity", F.exp(-F.col("avg_logprob")))


def corpus_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    shingle_n: int = 3,
    max_groups_per_gram: int | None = None,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Cross-slice n-gram overlap matrix: for every pair of corpus
    slices (sources, snapshots, languages) the count of shared distinct
    word n-gram TYPES and the Jaccard overlap — the corpus-level
    duplication audit that tells you WHICH ingests overlap before you
    pay for document-level dedup between them.

    Scale shape: the corpus reduces to DISTINCT (gram-hash, group) pairs
    (8-byte hashes, never gram text) before the gram-keyed self-join;
    per-group gram counts broadcast into the final join.
    ``max_groups_per_gram`` drops grams present in more than that many
    groups BEFORE pairing — the same ubiquitous-shingle skew dial as
    ngram_jaccard_pairs (a gram in g groups emits g·(g−1)/2 pairs).
    Jaccard = shared/(n_a + n_b − shared) is an exact integer ratio —
    engine-portable unrounded."""
    from .dedup import _base_hash64, shingles

    grams = (
        df.select(
            F.col(group_col).alias("__g__"),
            F.explode(shingles(F.col(text_col), n=shingle_n)).alias("__s__"),
        )
        .select("__g__", _base_hash64(F.col("__s__"), hash_kind).alias("__h__"))
        .distinct()
    )
    if max_groups_per_gram is not None:
        deg = grams.groupBy("__h__").agg(F.count(F.lit(1)).alias("__d__"))
        grams = grams.join(
            deg.where(F.col("__d__") <= max_groups_per_gram).select("__h__"), on="__h__"
        )
    per_group = grams.groupBy("__g__").agg(F.count(F.lit(1)).alias("__n__"))
    a = grams.select(F.col("__h__"), F.col("__g__").alias("group_a"))
    b = grams.select(F.col("__h__"), F.col("__g__").alias("group_b"))
    shared = (
        a.join(b, on="__h__")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    na = per_group.select(F.col("__g__").alias("group_a"), F.col("__n__").alias("n_a"))
    nb = per_group.select(F.col("__g__").alias("group_b"), F.col("__n__").alias("n_b"))
    out = shared.join(F.broadcast(na), on="group_a").join(F.broadcast(nb), on="group_b")
    return out.select(
        "group_a", "group_b", "shared_grams", "n_a", "n_b",
        (
            F.col("shared_grams").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared_grams"))
        ).alias("jaccard"),
    )


def featurize_hashed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 64,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Hashing-trick featurizer: token-occurrence counts over
    ``n_features`` hash buckets as a dense array<int> — the classic
    memory-fixed text vectorizer (no vocabulary build, merge-free across
    shards).  Pure horizontal Column algebra: tokens explode, bucket,
    count per (id, bucket), and the per-doc array rebuilds with empty
    buckets as 0 — one shuffle keyed on the doc id."""
    from .dedup import _base_hash64

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ex = (
        df.select(F.col(id_col), F.explode(toks).alias("__t__"))
        .where(F.length("__t__") > 0)
        .withColumn("__b__", F.pmod(_base_hash64(F.col("__t__"), hash_kind), F.lit(n_features)))
    )
    counts = ex.groupBy(id_col, "__b__").agg(F.count(F.lit(1)).alias("__c__"))
    sparse = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b__").cast("int"), F.col("__c__").cast("int")))
        ).alias("__m__")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_features - 1)),
        lambda b: F.coalesce(F.element_at(F.col("__m__"), b), F.lit(0)),
    )
    return sparse.select(F.col(id_col), dense.alias("features"))


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_col: str = "token",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a broadcast vocabulary
    relation (from build_vocab or an external tokenizer's vocab dump) —
    the coverage screen run before committing a tokenizer to a corpus.
    Corpus tokens explode and LEFT-join the broadcast vocab; the only
    shuffle carries (id, flag) pairs.  Returns
    (id, n_tokens, n_oov, oov_frac)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ex = df.select(F.col(id_col), F.explode(toks).alias("__t__")).where(F.length("__t__") > 0)
    v = vocab.select(F.col(vocab_col).alias("__t__")).distinct().withColumn("__inv__", F.lit(1))
    j = ex.join(F.broadcast(v), on="__t__", how="left")
    agg = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__inv__").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return agg.withColumn(
        "oov_frac", F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")
    )


# Flesch reading-ease constants, inlined as shared literals (the SQL
# oracle casts the same strings so both engines hold identical doubles).
FLESCH_BASE = 206.835
FLESCH_SENT_W = 1.015
FLESCH_SYL_W = 84.6


def syllable_count(col: Column) -> Column:
    """Heuristic syllable count: number of vowel GROUPS ([aeiouy]+) in
    the lowercased text — the standard readability approximation; word
    boundaries break groups naturally so it sums per-word counts."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit("[aeiouy]+"), 0)).cast("bigint")


def sentence_count(col: Column) -> Column:
    """Number of sentence-terminator runs ([.!?]+), floored at 1 so
    terminator-free fragments count as one sentence."""
    return F.greatest(
        F.size(F.regexp_extract_all(col, F.lit("[.!?]+"), 0)).cast("bigint"), F.lit(1).cast("bigint")
    )


def flesch_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease per document:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).

    All three counts are exact integers from regexp extraction (pure
    codegen, zero shuffles — the same horizontal shape as the Gopher
    quality rules); the score applies literal·(int/int) float ops to
    identical operands, so a SQL oracle reproduces it bit-for-bit.
    Empty/wordless docs yield NULL score rather than a division error.
    """
    t = F.col(text_col)
    wc = word_count(t).cast("bigint")
    sc_ = sentence_count(t)
    syl = syllable_count(t)
    score = F.when(
        wc > 0,
        F.lit(FLESCH_BASE)
        - F.lit(FLESCH_SENT_W) * (wc / sc_)
        - F.lit(FLESCH_SYL_W) * (syl / wc),
    )
    return df.select(
        F.col(id_col),
        wc.alias("n_words"),
        sc_.alias("n_sentences"),
        syl.alias("n_syllables"),
        score.alias("flesch"),
    )


# Gunning-fog constant as a shared literal (the SQL oracle casts the
# same string so both engines hold the identical double).
FOG_W = 0.4


def gunning_fog(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gunning fog index per document:
    0.4 · (words/sentences + 100 · complex_words/words), where a
    complex word has ≥ 3 vowel groups (the standard ≥3-syllable
    heuristic, sharing syllable_count's [aeiouy]+ rule).

    All three counts are exact integers (the complex-word count is a
    codegen lambda filter over the whitespace split — zero shuffles);
    the score is a fixed expression tree over exact operands, so a SQL
    oracle reproduces it bit-for-bit.  Wordless docs yield NULL.
    """
    t = F.col(text_col)
    words = F.filter(F.split(F.trim(F.lower(t)), r"\s+"), lambda w: F.length(w) > 0)
    wc = F.size(words).cast("bigint")
    sc_ = sentence_count(t)
    cw = F.size(
        F.filter(words, lambda w: F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)) >= 3)
    ).cast("bigint")
    fog = F.when(wc > 0, F.lit(FOG_W) * (wc / sc_ + F.lit(100.0) * (cw / wc)))
    return df.select(
        F.col(id_col),
        wc.alias("n_words"),
        sc_.alias("n_sentences"),
        cw.alias("n_complex"),
        fog.alias("fog"),
    )


def kwic(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    context: int = 30,
) -> DataFrame:
    """Keyword-in-context: for documents containing ``pattern``
    (case-insensitive, literal), emit the first match position and a
    ±``context``-character snippet — the corpus-exploration view behind
    every concordance tool.  Pure codegen string ops (instr + substr),
    zero shuffles; at 100 TB this is a scan-speed filter."""
    t = F.col(text_col)
    pos = F.instr(F.lower(t), pattern.lower())
    start = F.greatest(pos - context, F.lit(1))
    length = F.lit(len(pattern) + 2 * context)
    return (
        df.where(t.isNotNull() & (pos > 0))
        .select(
            F.col(id_col),
            pos.alias("match_pos"),
            F.substring(t, start, length).alias("snippet"),
        )
    )


def code_line_count(col: Column) -> Column:
    """Lines that look like source code: braces/semicolon endings,
    keyword starts (def/class/import/return/if(/for(), assignment with
    operators, or ≥4-space indentation.  Pure regexp_count codegen."""
    pat = (
        r"(?m)^(\s{4,}\S.*"                       # deep indentation
        r"|.*[;{}]\s*$"                            # C-ish line ends
        r"|\s*(def |class |import |from |return |if\s*\(|for\s*\(|while\s*\(|#include|function ).*"
        r"|\s*[A-Za-z_][A-Za-z0-9_\.\[\]]*\s*(=|\+=|-=|\*=|==)\s*\S.*)$"
    )
    return F.regexp_count(col, F.lit(pat))


def code_score(col: Column) -> Column:
    """Fraction of lines that look like code (0 when empty) — the
    cheap code-vs-prose router for mixed corpora; threshold ~0.3 for
    'mostly code'."""
    lines = F.size(F.split(col, "\n"))
    return F.when(
        col.isNull() | (F.length(col) == 0), F.lit(0.0)
    ).otherwise(code_line_count(col) / lines)


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical-diversity report — the corpus-quality
    signals next to the Gopher rules: token count, distinct types,
    type-token ratio, and hapax share (types occurring once; high hapax
    + low TTR both flag degenerate/boilerplate text).

    Tokens come from the shared :func:`~riptable_spark.operators.dedup.
    normalize_text` pipeline; all counts are exact integers folded
    HORIZONTALLY with array algebra (aggregate over the sorted token
    array — no explode, no shuffle: the whole report is a projection).
    Returns (id, n_tokens, n_types, ttr, hapax_rate).
    """
    from .dedup import normalize_text

    # NULL text reports 0 tokens (not NULL): a missing doc still gets a
    # row.  The sorted array materializes in its OWN projection stage —
    # inlining array_sort into the per-element lambdas makes Catalyst
    # re-sort per element access, O(n² log n) per doc (the yules_k
    # lesson; measured ~20 s extra at sf0.1).
    toks = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    s0 = df.select(
        F.col(id_col),
        F.array_sort(F.filter(toks, lambda x: x != "")).alias("__st__"),
    )
    st = F.col("__st__")
    n = F.size(st)
    # boundary flags over the sorted array: token != its predecessor
    is_new = F.transform(
        st, lambda x, i: F.when(i == 0, 1).otherwise((x != F.element_at(st, i)).cast("int"))
    )
    # a type is hapax iff it differs from BOTH neighbors in sorted order
    is_hapax = F.transform(
        st,
        lambda x, i: (
            F.when(i == 0, F.lit(True)).otherwise(x != F.element_at(st, i))
            & F.when(i == n - 1, F.lit(True)).otherwise(x != F.element_at(st, i + 2))
        ).cast("int"),
    )
    s1 = s0.select(
        id_col,
        n.alias("__n__"),
        F.aggregate(is_new, F.lit(0), lambda a, v: a + v).alias("__types__"),
        F.aggregate(is_hapax, F.lit(0), lambda a, v: a + v).alias("__hapax__"),
    )
    n, n_types, n_hapax = F.col("__n__"), F.col("__types__"), F.col("__hapax__")
    return s1.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_types.cast("long").alias("n_types"),
        F.when(n > 0, n_types.cast("double") / n).alias("ttr"),
        F.when(n_types > 0, n_hapax.cast("double") / n_types).alias("hapax_rate"),
    )


def log_templates(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Log-template mining (Drain-style, the deterministic core): mask
    the variable parts of each log line — long hex identifiers first,
    then digit runs — and aggregate identical templates.  Turns a
    terabyte of log lines into the few-hundred-row template table an
    on-call engineer actually reads.

    Both masks are plain regexes in the Java∩RE2 subset (engine-
    portable); the aggregation is one hash agg keyed on the masked
    string; the representative example is a deterministic MIN.  Returns
    (template, n, example).
    """
    masked = F.regexp_replace(
        F.regexp_replace(F.col(text_col), "[0-9a-f]{8,}", "<HEX>"),
        "[0-9]+",
        "<N>",
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(masked.alias("template"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.col(text_col)).alias("example"),
        )
    )


def vocab_growth(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heaps-law vocabulary growth curve: reading documents in id
    order, the running total of tokens seen vs the running size of the
    distinct vocabulary — the sublinear V ≈ K·Nᵝ curve that sizes a
    tokenizer against a corpus.

    The running-distinct decomposition (q352's discipline): a token's
    FIRST document is a plain min-aggregate, per-doc new-token counts
    are a second aggregate, and both cumulative sums run over the
    per-document relation — an aggregated-input window (one row per
    doc), never a raw-data global window.  All counts exact BIGINTs.
    Returns (id, n_tokens, n_new_tokens, cum_tokens, cum_vocab).
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: F.length(w) > 0
    )
    ex = df.select(F.col(id_col).alias("__id__"), F.explode(toks).alias("__t__"))
    totals = ex.groupBy("__id__").agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    firsts = (
        ex.groupBy("__t__").agg(F.min("__id__").alias("__id__"))
        .groupBy("__id__").agg(F.count(F.lit(1)).cast("long").alias("n_new_tokens"))
    )
    per_doc = totals.join(firsts, on="__id__", how="left").select(
        "__id__", "n_tokens",
        F.coalesce(F.col("n_new_tokens"), F.lit(0)).cast("long").alias("n_new_tokens"),
    )
    w = Window.orderBy("__id__").rowsBetween(Window.unboundedPreceding, 0)
    return per_doc.select(
        F.col("__id__").alias(id_col), "n_tokens", "n_new_tokens",
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        F.sum("n_new_tokens").over(w).cast("long").alias("cum_vocab"),
    )


RAKE_STOPWORDS = ["the", "and", "of", "to", "in", "a", "is", "that", "it", "for"]


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: list[str] | None = None,
    top_k: int = 5,
    max_phrase_len: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs between stopwords/punctuation; each word scores
    deg(w)/freq(w) over the whole candidate set (deg = Σ phrase length
    over phrases containing w), and a phrase scores the sum of its
    word scores.  Top-k phrases per document.

    Cross-engine exactness: each word ratio is ONE divide of exact
    integer corpus stats, and the per-phrase sum is a position-ordered
    LEFT FOLD over ≤ ``max_phrase_len`` ratios (F.aggregate here,
    list_reduce in SQL — never a hash-agg float sum, ORACLES rule 22).
    Corpus stats are one hash agg over exploded words; ranking
    tie-breaks (score DESC, phrase) for a total order.  Returns
    (id, phrase, n_words, score, rank).
    """
    sw = stopwords or RAKE_STOPWORDS
    pat = r"\b(?:" + "|".join(sw) + r")\b"
    segs = F.split(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z ]+", "|"), pat, "|"
        ),
        r"\|",
    )
    seg = df.select(F.col(id_col).alias("__id__"), F.posexplode(segs).alias("__sidx__", "__seg__"))
    words = F.filter(F.split(F.trim(F.col("__seg__")), " +"), lambda w: F.length(w) > 0)
    phrases = seg.select(
        "__id__", "__sidx__", words.alias("__ws__")
    ).where((F.size("__ws__") >= 1) & (F.size("__ws__") <= max_phrase_len))
    exploded = phrases.select(
        "__id__", "__sidx__",
        F.size("__ws__").cast("long").alias("__plen__"),
        F.array_join(F.col("__ws__"), " ").alias("phrase"),
        F.posexplode("__ws__").alias("__wpos__", "__w__"),
    )
    stats = exploded.groupBy("__w__").agg(
        F.count(F.lit(1)).cast("long").alias("__freq__"),
        F.sum("__plen__").cast("long").alias("__deg__"),
    )
    scored = (
        exploded.join(stats, on="__w__")
        .withColumn("__ratio__", F.col("__deg__") / F.col("__freq__"))
        .groupBy("__id__", "__sidx__", "phrase")
        .agg(
            F.max("__plen__").alias("n_words"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__wpos__", "__ratio__"))),
                    lambda s: s.getField("__ratio__"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    dedup = scored.groupBy("__id__", "phrase").agg(
        F.max("n_words").cast("long").alias("n_words"), F.max("score").alias("score")
    )
    w = Window.partitionBy("__id__").orderBy(F.col("score").desc(), F.col("phrase"))
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("__id__").alias(id_col), "phrase", "n_words", "score",
                F.col("rank").cast("long").alias("rank"))
    )


def yules_k(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Yule's characteristic K and Simpson's repeat rate per document —
    the classic lexical-richness statistics over the token frequency
    spectrum: with N tokens and frequencies f_w,

        K = 10⁴ · (Σf² − N) / N²        D = (Σf² − N) / (N·(N−1))

    Σf² folds HORIZONTALLY over the sorted token array (run starts →
    run lengths → Σ len², an integer F.aggregate — lexical_diversity's
    zero-shuffle discipline: the whole statistic is a projection), so
    both outputs are ONE divide of exact BIGINTs.  Docs with N < 2
    yield NULL.  Returns (id, n_tokens, n_types, sum_f2, yules_k,
    simpson).
    """
    from .dedup import normalize_text

    # Each intermediate array materializes in its OWN projection stage:
    # inlining array_sort(toks) into every element_at lambda makes
    # Catalyst re-sort the array per element access — O(n² log n) per
    # document (measured: minutes at sf0.1 vs seconds staged).
    toks = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    s0 = df.select(
        F.col(id_col),
        F.array_sort(F.filter(toks, lambda x: x != "")).alias("__st__"),
    )
    st = F.col("__st__")
    n = F.size(st).cast("long")
    s1 = s0.select(
        id_col, "__st__",
        n.alias("__n__"),
        F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)).cast("int")),
            lambda i: (i == 1) | (F.element_at(st, i) != F.element_at(st, i - 1)),
        ).alias("__starts__"),
    )
    s2 = s1.select(
        id_col, "__n__",
        F.size("__starts__").cast("long").alias("__k__"),
        F.concat(
            F.col("__starts__"), F.array((F.col("__n__") + 1).cast("int"))
        ).alias("__bounds__"),
    )
    bounds = F.col("__bounds__")
    s3 = s2.select(
        id_col, "__n__", "__k__",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.col("__k__").cast("int")),
                lambda j: (F.element_at(bounds, j + 1) - F.element_at(bounds, j)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ).alias("__f2__"),
    )
    n, k, sum_f2 = F.col("__n__"), F.col("__k__"), F.col("__f2__")
    return s3.select(
        F.col(id_col),
        F.when(n > 0, n).otherwise(F.lit(0)).alias("n_tokens"),
        F.when(n > 0, k).otherwise(F.lit(0)).cast("long").alias("n_types"),
        F.when(n > 0, sum_f2).otherwise(F.lit(0)).cast("long").alias("sum_f2"),
        F.when(n >= 2, (F.lit(10000) * (sum_f2 - n)) / (n * n)).alias("yules_k"),
        F.when(n >= 2, (sum_f2 - n) / (n * (n - 1))).alias("simpson"),
    )


def naive_bayes_train(
    train: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train the multinomial NB model relations: ``counts`` (class,
    token, count) and ``classes`` (class, token total, prior count,
    vocab size, N) — every quantity an exact BIGINT.  Both are small
    (|V|·|C| and |C| rows) and broadcast into scoring.

    ``materialize=True`` eagerly localCheckpoints counts BEFORE deriving
    classes from it (so the train explode+agg runs exactly once) and
    then classes — for callers that score the model more than once."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tr = train.where(F.col(text_col).isNotNull())
    tr_tok = tr.select(
        F.col(label_col).alias("__cls__"), F.explode(toks).alias("__tok__")
    )
    counts = tr_tok.groupBy("__cls__", "__tok__").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt__")
    )
    if materialize:
        counts = counts.localCheckpoint(eager=True)
    cls_stats = counts.groupBy("__cls__").agg(
        F.sum("__cnt__").cast("long").alias("__tok_c__")
    )
    priors = tr.groupBy(F.col(label_col).alias("__cls__")).agg(
        F.count(F.lit(1)).cast("long").alias("__n_c__")
    )
    vocab = counts.select("__tok__").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("__V__")
    )
    n_total = tr.agg(F.count(F.lit(1)).cast("long").alias("__N__"))
    classes = (
        cls_stats.join(priors, "__cls__")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_total))
    )
    if materialize:
        classes = classes.localCheckpoint(eager=True)
    return counts, classes


def naive_bayes_classify(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
    k_tokens: int = 12,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes over whitespace unigrams: train per-class
    add-1-smoothed token models on ``train``, score each ``test`` doc's
    first ``k_tokens`` tokens, return the argmax class per doc.

    Cross-engine exactness: every model quantity is an exact BIGINT
    (token counts, class token totals, vocab size, doc counts); each
    per-token likelihood is ONE divide (cnt+1)/(tok_c+V); the per-doc
    per-class product is a position-ordered LEFT FOLD (F.aggregate /
    list_reduce — the rake_keywords discipline, never a hash-agg float
    product), then one prior multiply (n_c/N)·Π.  Bounding the scored
    prefix at ``k_tokens`` keeps the product ≥ ~(1/(tok_c+V))^k — far
    above double underflow — and bounds per-row work.

    At 100 TB: the model relation is |V|·|C| rows → broadcast to both
    joins; test tokens shuffle once on (doc, class) for the fold; the
    argmax is a 5-row-per-doc window over aggregated input.

    ``model`` (from :func:`naive_bayes_train`) lets a caller score the
    SAME trained model at several ``k_tokens`` without re-running the
    training aggregation per setting (q626's grid shape).
    """
    if model is None:
        model = naive_bayes_train(train, label_col, text_col)
    counts, classes = model
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    te = test.where(F.col(text_col).isNotNull())

    te_tok = te.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(F.slice(toks, 1, k_tokens)).alias("__pos__", "__tok__"),
    )
    scored = (
        te_tok.crossJoin(F.broadcast(classes))
        .join(F.broadcast(counts), ["__cls__", "__tok__"], "left")
        .select(
            "__id__", "__cls__", "__pos__", "__n_c__", "__N__",
            (
                (F.coalesce(F.col("__cnt__"), F.lit(0)) + 1)
                / (F.col("__tok_c__") + F.col("__V__"))
            ).alias("__ratio__"),
        )
    )
    folded = scored.groupBy("__id__", "__cls__").agg(
        F.max("__n_c__").alias("__n_c__"),
        F.max("__N__").alias("__N__"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__ratio__"))),
                lambda s: s.getField("__ratio__"),
            ),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("__prod__"),
    )
    per_class = folded.select(
        "__id__", "__cls__",
        ((F.col("__n_c__") / F.col("__N__")) * F.col("__prod__")).alias("score"),
    )
    w = Window.partitionBy("__id__").orderBy(F.desc("score"), F.col("__cls__"))
    return (
        per_class.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .select(
            F.col("__id__").alias(id_col),
            F.col("__cls__").alias("pred_" + label_col),
            "score",
        )
    )



def normalize_nfc(df: DataFrame, text_col: str = "text", out_col: str = "text_nfc") -> DataFrame:
    """Unicode NFC normalization — canonical composition (e + combining
    acute → é, Hangul jamo → syllables), the standard first step of any
    multilingual corpus pipeline (mixed-source crawls carry both forms
    of the same word, which breaks exact dedup, shingling, and token
    counts).

    The JVM exposes no normalizer through Spark SQL (collation support
    in Spark 4 compares, but cannot REWRITE), so this is the documented
    Pandas-UDF exception: one Arrow-batched ``unicodedata.normalize``
    pass, ~O(bytes), no shuffle, NULL-safe.  Cross-engine parity with
    DuckDB's utf8proc ``nfc_normalize`` is oracle-checked on injected
    composed/decomposed pairs (q634)."""
    from pyspark.sql.functions import pandas_udf

    def _nfc_series(s):
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    # functional form: the module uses `from __future__ import
    # annotations`, which stringifies type hints and breaks pyspark's
    # decorator-time eval-type inference
    _nfc = pandas_udf(_nfc_series, "string")
    return df.withColumn(out_col, _nfc(F.col(text_col)))


# -------------------------------------------------- corpus statistics
def zipf_fit(df: DataFrame, text_col: str = "text", top_r: int = 40) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope/intercept of
    ln(freq) on ln(rank) for the top ``top_r`` tokens — the standard
    corpus-health diagnostic (natural language sits near slope −1;
    boilerplate-heavy or templated corpora flatten, spam steepens).

    Scale shape: one corpus-sized explode + hash-count builds the
    vocabulary (map-side combined); everything after runs on the top-R
    relation (≤ top_r rows).  Exactness: the float sums fold LEFT over
    a rank-sorted staged array (F.aggregate is a linear left fold), so
    the oracle replays the identical association via DuckDB's
    list_reduce over a rank-ordered list — no orderless float sum
    anywhere (ORACLES rule 19/22).  Reference: riptable has no corpus
    module; this extends the training-data surface (SURVEY §2.9)."""
    v = build_vocab(df, text_col).where(F.col("rank") <= top_r)
    pts = v.groupBy().agg(
        F.sort_array(F.collect_list(F.struct(F.col("rank"), F.col("n")))).alias("__pts__"),
        F.count(F.lit(1)).cast("long").alias("r_used"),
    )

    def _fold(term):
        return F.aggregate(F.col("__pts__"), F.lit(0.0), lambda acc, s: acc + term(s))

    def _lx(s):
        return F.log(s.getField("rank").cast("double"))

    def _ly(s):
        return F.log(s.getField("n").cast("double"))

    # stage each fold as its own column (catalyst HOF re-evaluation:
    # inlining them into the slope formula re-runs the O(R) folds once
    # per reference)
    pts = pts.select(
        "r_used",
        _fold(_lx).alias("__sx__"),
        _fold(_ly).alias("__sy__"),
        _fold(lambda s: _lx(s) * _lx(s)).alias("__sxx__"),
        _fold(lambda s: _lx(s) * _ly(s)).alias("__sxy__"),
    )
    n = F.col("r_used").cast("double")
    slope = (n * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__")) / (
        n * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__")
    )
    # stage slope before intercept references it (codegen CSE exactness:
    # one evaluation, one spelling)
    staged = pts.select("*", slope.alias("slope"))
    intercept = (F.col("__sy__") - F.col("slope") * F.col("__sx__")) / n
    return staged.select("r_used", "slope", intercept.alias("intercept"))


def good_turing(
    df: DataFrame, text_col: str = "text", max_r: int = 10, ngram: int = 1
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table: for r = 1..max_r the
    count-of-counts N_r (n-gram types seen exactly r times), the
    smoothed count r* = (r+1)·N_{r+1}/N_r, and the corpus-token share
    of each class.  N_1/N is the classic unseen-mass estimate — the
    quantity an LM-data curator watches to judge how much of a corpus's
    distribution is still singleton noise.  ``ngram`` picks the unit
    (1 = word types; 3 = trigrams, the usual LM-smoothing view — and
    the one with a populated low-r tail on bounded-vocabulary
    corpora).

    Scale shape: token hash-count (corpus-sized, map-side combined) →
    count-of-counts (vocabulary-sized) → a ≤ max_r+1-row relation; the
    N_{r+1} lookup is a self-join on that tiny relation (NOT a lead()
    window — a missing frequency class would make lead() read the next
    POPULATED class, silently wrong).  Exactness: r* and the class
    share are single divides of exact BIGINTs — bit-identical
    cross-engine."""
    # bind the token array to a column FIRST (the kneser_ney pattern):
    # an expression referenced inside a transform lambda is re-evaluated
    # per window (measured 6x on trigrams at sf0.1)
    base = df.where(F.col(text_col).isNotNull()).withColumn(
        "_toks__", _words(F.lower(F.col(text_col)))
    )
    toks = F.col("_toks__")
    if ngram > 1:
        # greatest(.., 1): sequence(1, 0) would generate DESCENDING [1, 0];
        # the when() guard below already drops short docs, this keeps the
        # unevaluated branch well-formed
        cnt = F.greatest(F.size(toks) - (ngram - 1), F.lit(1))
        idx = F.sequence(F.lit(1), cnt)
        unit = F.when(
            F.size(toks) >= ngram,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, ngram))),
        ).otherwise(F.array().cast("array<string>"))
    else:
        unit = toks
    counts = (
        base.select(F.explode(unit).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    nr = (
        counts.where(F.col("__n__") <= max_r + 1)
        .groupBy(F.col("__n__").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    total = counts.agg(F.sum("__n__").cast("long").alias("__N__"))
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    out = (
        nr.where(F.col("r") <= max_r)
        .join(nxt, on="r", how="left")
        .crossJoin(F.broadcast(total))
    )
    return out.select(
        F.col("r").cast("long").alias("r"),
        "n_r",
        F.coalesce("n_r1", F.lit(0)).cast("long").alias("n_r_plus1"),
        (
            (F.col("r") + 1).cast("double")
            * F.coalesce("n_r1", F.lit(0)).cast("double")
            / F.col("n_r").cast("double")
        ).alias("r_star"),
        (
            (F.col("n_r") * F.col("r")).cast("double")
            / F.col("__N__").cast("double")
        ).alias("class_token_share"),
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    min_count: int = 3,
) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities — the
    standard n-gram LM smoother (Kneser & Ney 1995; the KenLM default):

        p_kn(w2|w1) = (c12 − D)/c1 + (D·N1+(w1·)/c1) · (N1+(·w2)/N1+(··))

    where c12 = bigram count, c1 = w1's bigram-first count, N1+(w1·) =
    distinct continuations of w1, N1+(·w2) = distinct left-contexts of
    w2 (the continuation probability — KN's insight: "Francisco" is
    frequent but follows almost nothing), and N1+(··) = distinct
    bigrams.  Rows with c12 ≥ min_count are returned (min_count ≥ 1
    keeps c12 − D positive, so the max(·,0) clamp is vacuous).

    Scale shape: ONE corpus-sized explode feeds the bigram hash-count;
    every other component (c1, both N1+ families, the bigram total)
    derives from that AGGREGATED relation, and the small sides
    broadcast into the final join.  Exactness: all components are
    exact BIGINTs; p_kn is a fixed float expression tree over them
    with D shipped as a dyadic-rational literal — bit-identical
    cross-engine."""
    toks = _words(F.lower(F.col(text_col)))
    bg = F.when(
        F.size(toks) >= 2,
        F.expr(
            "transform(sequence(1, size(_toks__) - 1),"
            " i -> concat(element_at(_toks__, i), ' ', element_at(_toks__, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = (
        df.where(F.col(text_col).isNotNull())
        .withColumn("_toks__", toks)
        .select(F.explode(bg).alias("__bg__"))
    )
    c12 = ex.groupBy("__bg__").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c12 = c12.select(
        F.split(F.col("__bg__"), " ").getItem(0).alias("w1"),
        F.split(F.col("__bg__"), " ").getItem(1).alias("w2"),
        "c12",
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1_fw"),
    )
    bw = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1_bw"))
    nbi = c12.agg(F.count(F.lit(1)).cast("long").alias("n_bi"))
    out = (
        c12.where(F.col("c12") >= min_count)
        .join(F.broadcast(c1), on="w1")
        .join(F.broadcast(bw), on="w2")
        .crossJoin(F.broadcast(nbi))
    )
    d = F.lit(discount).cast("double")
    p_kn = (F.col("c12").cast("double") - d) / F.col("c1").cast("double") + (
        d * F.col("n1_fw").cast("double") / F.col("c1").cast("double")
    ) * (F.col("n1_bw").cast("double") / F.col("n_bi").cast("double"))
    return out.select(
        "w1", "w2", "c12", "c1", "n1_fw", "n1_bw", "n_bi", p_kn.alias("p_kn")
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Vocabulary coverage curve: for each cutoff k, the share of ALL
    corpus tokens covered by the k most frequent types — the number a
    tokenizer designer reads off before choosing a vocab size (and the
    flip side of the OOV rate at that size).

    Scale shape: one corpus-sized explode + hash-count; the cumulative
    sum is an integer window over the AGGREGATED vocabulary ordered by
    (n desc, token) — exact under any engine (integer window sums
    don't reassociate).  Cutoffs larger than the vocabulary clamp to
    the full vocabulary.  Returns (k, rank_used, covered_tokens,
    total_tokens, coverage) with coverage = one exact-BIGINT divide."""
    v = build_vocab(df, text_col)
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = v.select(
        "rank", F.sum("n").over(w).cast("long").alias("__cum__")
    )
    stats = cum.agg(
        F.max("rank").cast("long").alias("__vmax__"),
        F.max("__cum__").cast("long").alias("__total__"),
    )
    kdf = (
        cum.sparkSession.createDataFrame([(int(k),) for k in ks], "k long")
        .crossJoin(F.broadcast(stats))
        .select("k", F.least(F.col("k"), F.col("__vmax__")).alias("rank_used"), "__total__")
    )
    out = kdf.join(cum, kdf["rank_used"] == cum["rank"]).select(
        "k",
        "rank_used",
        F.col("__cum__").alias("covered_tokens"),
        F.col("__total__").alias("total_tokens"),
        (F.col("__cum__").cast("double") / F.col("__total__").cast("double")).alias(
            "coverage"
        ),
    )
    return out
