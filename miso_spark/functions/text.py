"""Text analysis operators over a document column.

Everything here is pure built-in-function Spark (no UDFs): at 100 TB
these run inside whole-stage codegen with full column pruning, and the
only shuffle is whatever aggregation the caller adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny marker-word lists for the language-ID heuristic; deterministic
#: and cheap — real models would be a Pandas-UDF scoring pass instead
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "pas"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

#: BPE-ish tokenization: word pieces or single punctuation marks
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def normalize(text: Column) -> Column:
    """Lowercase + whitespace-collapse; the canonical form used by the
    dedup family."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def words(text: Column) -> Column:
    return F.split(text, r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count.

    ``regexp_count + 1`` instead of ``size(split(...))`` (r14, guide
    §1.2 per-task work): Java's split with limit -1 always yields
    (#separator matches + 1) pieces, so the counts are identical —
    including empty text (0+1 = size([""])) and leading/trailing
    whitespace — without materializing the word array per row
    (measured 2.2× on sf0.1 documents)."""
    return F.regexp_count(text, F.lit(r"\s+")) + F.lit(1)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word pieces + punctuation marks.

    ``regexp_count`` counts the same matches ``regexp_extract_all``
    would materialize, without building the token array per row (r14;
    1.4× on sf0.1 documents, identical counts)."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN))


def _count_words_in(col_name: str, vocab: tuple[str, ...]) -> Column:
    # array_contains against an array of lit() words — no SQL-string
    # interpolation, so caller-supplied vocab containing quotes (or
    # anything else) can't break or rewrite the expression
    marker = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(F.col(col_name), lambda w: F.array_contains(marker, w)))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, word stats, stopword ratio,
    punctuation ratio, and a composite score in [0, 1].

    Structure matters here (r15, guide §1.2): the lambda-bearing
    expressions (``filter``/``array_contains``) drop the projection out
    of whole-stage codegen, so nothing deduplicates repeated
    subexpressions at runtime. Each expensive per-row quantity is
    therefore computed exactly once into a scratch/output column and
    REFERENCED by the ratios and the composite score — multi-referenced
    non-cheap aliases block CollapseProject from re-inlining them, so
    the single evaluation survives into the physical plan (the r14 form
    re-evaluated the stopword filter and the punct regex once in the
    ratio and again inside quality_score: ~1.35× measured on sf0.1
    documents for the text_quality entry)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    df = (
        df.withColumn("_words", words(t))
        .withColumn("n_words", F.size("_words"))
        .withColumn("__stop", _count_words_in("_words", STOPWORDS))
        # regexp_count instead of length(regexp_replace(...)): every
        # match is exactly one char, so the count equals the length
        # delta without building the stripped string per row (r14)
        .withColumn("__punct", F.regexp_count(t, F.lit(r"[^\w\s]")))
    )
    nw = F.col("n_words")
    df = (
        df.withColumn("avg_word_len", F.round(n_chars / F.greatest(nw, F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(F.col("__stop") / F.greatest(nw, F.lit(1)), 4))
        .withColumn("punct_ratio", F.round(F.col("__punct") / F.greatest(n_chars, F.lit(1)), 4))
    )
    # docs that are too short, all punctuation, or stopword-free score
    # low. Built from the already-rounded ratio COLUMNS so the
    # composite is reproducible bit-for-bit across engines (see catalog
    # oracle) and each ratio is evaluated once.
    score = (
        F.least(nw / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * F.lit(4.0), F.lit(1.0))) * 0.3
    )
    return df.withColumn(
        "quality_score",
        F.when(t.isNull(), F.lit(None)).otherwise(F.round(score, 6)),
    ).drop("_words", "__stop", "__punct")


def with_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1):
    duplicate-word fraction (1 − distinct/total) and top-word fraction
    (most frequent word / total). Boilerplate and degenerate generations
    spike on both.

    dup fraction is pure array built-ins (zero shuffle); the top-word
    mode is relational — explode → (id, word) count → per-id max —
    two hash aggregates with map-side partials, no window over raw rows.
    """
    norm = normalize(F.col(text_col))
    w = words(norm)
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(w).alias("n_words"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(w)) / F.greatest(F.size(w), F.lit(1)),
            4,
        ).alias("dup_word_frac"),
    )
    top = (
        df.select(F.col(id_col).alias("id"), F.explode(words(norm)).alias("w"))
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("total"))
        .select("id", F.round(F.col("top_c") / F.col("total"), 4).alias("top_word_frac"))
    )
    return base.join(top, "id").select(
        F.col("id").alias(id_col), "n_words", "dup_word_frac", "top_word_frac"
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: score = matched marker words per
    language, argmax with deterministic tie-break order en > de > fr.

    Splits ``lower(text)`` directly (r15): the former
    ``words(normalize(text))`` first collapsed whitespace with a
    regexp_replace and trimmed — pure waste before a ``\\s+`` regex
    split, whose pieces differ only by empty edge strings that can
    never match a marker word. Scores and prediction are identical."""
    df = df.withColumn("_w", F.split(F.lower(F.col(text_col)), r"\s+"))
    scores = {lang: _count_words_in("_w", markers) for lang, markers in LANG_MARKERS.items()}
    for lang, s in scores.items():
        df = df.withColumn(f"score_{lang}", s)
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de")) & (F.col("score_en") >= F.col("score_fr")),
            F.lit("en"),
        )
        .when(F.col("score_de") >= F.col("score_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.withColumn("lang_pred", pred).drop("_w")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (The shingle and SimHash variants live in ``dedup``.)"""
    return F.md5(normalize(text))


#: redaction patterns: deliberately simple, anchor-free regexes that
#: DuckDB's regexp_replace evaluates identically (RE2-compatible — no
#: backrefs/lookaround), so the whole scrub is SQL-oracle-checkable.
#: Order matters: emails before bare domains, URLs before IPs-in-URLs.
REDACTION_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact(text: Column, patterns: tuple[tuple[str, str], ...] = REDACTION_PATTERNS) -> Column:
    """PII scrub: replace emails, URLs, IPv4 addresses and phone-like
    digit runs with typed placeholder tokens — the standard hygiene
    pass before LLM training text leaves the pipeline. A chain of JVM
    ``regexp_replace`` calls (one pass per pattern, whole-stage
    codegen, zero shuffle)."""
    out = text
    for pat, token in patterns:
        out = F.regexp_replace(out, pat, token)
    return out


def with_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` + ``redacted`` column (see ``redact``)."""
    return df.withColumn("redacted", redact(F.col(text_col)))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    word-token chunks of ``chunk_tokens`` with ``overlap`` tokens of
    context carried between consecutive chunks — the standard
    long-document preparation for pretraining windows and RAG
    retrieval units.

    Returns one row per chunk: ``(id_col, chunk_id, chunk_start,
    chunk_n_tokens, chunk_text)``. Chunk starts advance by
    ``chunk_tokens - overlap``; the final chunk may be short. Tokens
    are whitespace words, consistent with :func:`token_count` (whose
    splitter yields one empty token for empty text, so an empty doc
    gets one empty chunk); NULL text produces no chunks.

    Scale shape: pure ``pyspark.sql.functions`` — split / sequence /
    posexplode / slice run inside whole-stage codegen with zero
    shuffles and no Python; output size is input tokens ×
    (1 + overlap/step), linear.
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    ws = F.split(F.col(text_col), r"\s+")
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    out = (
        df.select(
            F.col(id_col),
            ws.alias("__ws"),
            n.alias("__n"),
            F.posexplode(starts).alias("chunk_id", "chunk_start"),
        )
        .filter(F.col("chunk_start") < F.col("__n"))
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            F.least(
                F.lit(chunk_tokens), F.col("__n") - F.col("chunk_start")
            ).alias("chunk_n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__ws"), F.col("chunk_start") + 1, chunk_tokens)
            ).alias("chunk_text"),
        )
    )
    return out


def corpus_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """CCNet-style corpus-LM quality scoring, self-trained: score every
    document by the mean JOINT log-probability of its word bigrams
    under the corpus's own add-``k``-smoothed bigram distribution.
    Documents whose word sequences are rare in the corpus (gibberish,
    boilerplate mutations, lists) score low and can be filtered or
    bucketed — the pretraining-quality split CCNet does with a wiki-LM
    (no external model exists in this container, so the corpus is its
    own reference distribution).

    Joint — not conditional — probability on purpose: a self-trained
    CONDITIONAL model with additive smoothing scores hapax sequences
    near the top (an unseen word's only-ever-seen continuation gets
    p≈(1+k)/(1+kV), beating common words' diffuse continuations), so
    gibberish would outrank real text. Joint typicality is monotone in
    corpus bigram frequency, which is the filtering signal wanted.

    Returns ``(id, n_bigrams, avg_logprob, perplexity)`` for every doc
    with at least one bigram (single-word docs drop — no transitions to
    score).

    Scale shape: one hash-aggregation builds the bigram count table
    (vocabulary²-bounded, in practice corpus-vocabulary-sized — NOT
    corpus-sized), then one hash join scores each doc's bigrams
    against it. One shuffle each, all map-side-combinable; nothing
    quadratic.
    """
    from pyspark.sql import Window

    win = Window.partitionBy("id").orderBy("pos")
    wrds = df.select(
        F.col(id_col).alias("id"),
        # normalized (lowercased, whitespace-collapsed) words: the LM
        # is case-insensitive, like the dedup shingle pipeline
        F.posexplode(F.split(normalize(F.col(text_col)), " ")).alias("pos", "w1"),
    )
    bi = (
        wrds.select("id", "w1", F.lead("w1").over(win).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    # one pass over the text: the tokenized bigram stream feeds the
    # count build AND the probe side of the scoring join, and the
    # smoothing constants derive from the (vocabulary-sized) count
    # table — without the checkpoint, split+posexplode+window would
    # re-run for each of those consumers (~4 passes)
    bi = bi.localCheckpoint(eager=False)
    big_counts = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    ).localCheckpoint(eager=False)
    totals = big_counts.agg(F.sum("c12").alias("t")).first()
    # vocab from the count table (words seen in any bigram): words in
    # single-word docs contribute no bigrams anyway, so they don't
    # belong in the transition-smoothing denominator
    vocab = (
        big_counts.select(F.col("w1").alias("w"))
        .union(big_counts.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )
    denom = float(totals["t"] or 0) + k * float(vocab) * float(vocab)
    scored = bi.join(big_counts, ["w1", "w2"]).select(
        "id",
        F.log((F.col("c12") + F.lit(k)) / F.lit(denom)).alias("lp"),
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("lp").alias("avg_logprob"),
        )
        .select(
            "id", "n_bigrams",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("perplexity"),
        )
    )
