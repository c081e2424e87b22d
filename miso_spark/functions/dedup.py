"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Scale design (100 TB):
- exact: one hash-groupBy shuffle on a 16-byte digest — minimal.
- ngram-jaccard: inverted-index join on shingles (never a cross join);
  shingles are hashed to longs before the shuffle so the exchange
  carries (long, id) pairs only.
- minhash-LSH: per-doc signature via built-in xxhash64 (no UDF), then
  a groupBy per band on a banded signature hash; candidate pairs are
  verified with exact Jaccard. Shuffle volume = rows × bands longs.
  The row-local form (``with_minhash_signature``, used by the stream)
  computes the same signature without a shuffle.
- simhash: 64-bit signature from word hashes via one 64-column vote
  aggregate, bucketed by block combinations for candidates.
- embedding: blocked cosine join (same LSH/label block), zip_with dot
  products — no Python in the loop.

Every shingle and signature here comes from ``_words``,
``_shingle_starts``, ``_shingle_hash`` and ``_family``; batch and
streaming dedup share them, so both sign a document identically.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from miso_spark.functions.text import normalize


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text (distinct) — the
    string-level reference the hashed shingle forms are tested against."""
    w = F.split(normalize(text), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))
    )


def _words(text: Column) -> Column:
    return F.split(normalize(text), " ")


def _shingle_starts(words: Column, n: int) -> Column:
    """0-based start of every word n-gram: 0..max(m−n, 0), so a doc
    shorter than ``n`` words keeps one partial shingle (its whole
    text), matching ``shingles()``."""
    return F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))


def _shingle_hash(words: Column, start: Column, n: int) -> Column:
    return F.xxhash64(F.concat_ws(" ", F.slice(words, start + 1, n)))


def _family(shh: Column, k: int) -> Column:
    """MinHash family ``k``: the shingle hash re-mixed with seed ``k`` —
    long-only arithmetic, no string building per family."""
    return F.xxhash64(shh, F.lit(k))


def _hashed_shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Hashed word-n-gram shingle rows ``(id, shh)``, NOT de-duplicated
    (one row per shingle POSITION; repeated shingles repeat).

    Shape (r15, guide §2.4 remove-shuffles): keep the word array on the
    row, explode the START-INDEX sequence, and build each shingle with
    per-row ``slice`` + ``concat_ws`` — plain codegen expressions, no
    per-element lambda. Zero exchanges happen before the consumer's
    aggregation; the Generate is pipelined inside one codegen stage, so
    the word array never crosses an exchange either. NULL text yields
    no rows (the isNotNull guard — without it the index sequence over
    ``greatest(NULL, 0)`` would emit one empty shingle).
    """
    return (
        df.select(F.col(id_col).alias("id"), _words(F.col(text_col)).alias("__wa"))
        .filter(F.col("__wa").isNotNull())
        .select(
            "id",
            "__wa",
            F.explode(_shingle_starts(F.col("__wa"), n)).alias("__p"),
        )
        .select("id", _shingle_hash(F.col("__wa"), F.col("__p"), n).alias("shh"))
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Per-doc distinct shingle-hash SET ``(id, arr)`` in ONE exchange
    (r15, guide §2.4): collect_set over the raw (possibly-duplicated)
    shingle rows dedups and gathers at once. Set order is
    partition-dependent; no consumer is order-sensitive.

    Lazily localCheckpointed so every consumer reads it instead of
    re-running the shingle pipeline. Its total bytes ≈ the corpus's
    distinct-shingle count (ADVICE r14); localCheckpoint blocks are
    disk-backed (spill, not OOM) but NON-REPLICATED and lineage is
    truncated: on a real cluster an executor/decommission loss fails
    the query instead of recomputing.
    """
    return (
        _hashed_shingle_rows(df, text_col, id_col, n)
        .groupBy("id")
        .agg(F.collect_set("shh").alias("arr"))
        .localCheckpoint(eager=False)
    )


def _minhash_rows(arrs: DataFrame, num_hashes: int) -> DataFrame:
    """Batch MinHash signature table ``(id, m0..m{k-1})`` from the
    shingle-set table: k family mins in one codegen HashAggregate over
    the re-exploded sets (partition-local: ``arrs`` is already
    hash-distributed by id, so the explode → groupBy(id) needs no
    exchange). Kept apart from the collect_set aggregate because
    collect_set forces ObjectHashAggregate, whose sort-based fallback
    would drag the mins out of codegen (measured 2.7× the CPU).
    Lazily localCheckpointed (N rows × k longs)."""
    return (
        arrs.select("id", F.explode("arr").alias("shh"))
        .groupBy("id")
        .agg(*[F.min(_family(F.col("shh"), s)).alias(f"m{s}") for s in range(num_hashes)])
        .localCheckpoint(eager=False)
    )


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """``df`` + ``sig``: the MinHash signature as ``array<long>``,
    computed row-locally — no window, no shuffle, so it runs on
    STREAMING DataFrames (``near_dedup_stream``), where the batch
    explode + groupBy form would need unbounded keyed state.

    ``sig[k]`` equals ``minhash_lsh_pairs``' ``m{k}`` for every
    non-NULL text (min over the shingle multiset equals min over the
    set). NULL text has no batch row; here it signs the one empty
    shingle, like ``""``.

    Staged so the expensive per-row pieces evaluate ONCE (guide §1.2
    per-task work), the way ``_hashed_shingle_rows`` stages them:
    projection 1 splits the normalized text into words; projection 2
    builds the hashed-shingle array (slice + concat + string hash);
    projection 3 derives all families from those longs. Each
    multi-referenced non-cheap alias blocks CollapseProject from
    re-inlining it into its consumer's lambda, where it would run once
    per shingle or per family: the word split inlined into the shingle
    lambda re-ran regexp_replace + split per shingle (6.6-8.6 s vs
    1.4-1.7 s staged over 5 000 sf0.1 documents at num_hashes=32,
    ``local[2]``), and the shingle array inlined into each family
    measured 26.7 s vs 3.4 s."""
    df = df.withColumn("__wa", _words(F.col(text_col)))
    wa = F.col("__wa")
    df = df.withColumn(
        "__shh",
        F.transform(_shingle_starts(wa, shingle_n), lambda p: _shingle_hash(wa, p, shingle_n)),
    )
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__shh"), lambda h: _family(h, k)))
            for k in range(num_hashes)
        ]
    )
    return df.withColumn("sig", sig).drop("__wa", "__shh")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns (content_hash, canonical_id, dup_count); canonical = min id.
    """
    return (
        df.select(F.md5(normalize(F.col(text_col))).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Candidate pairs by shared shingles, scored with exact Jaccard.

    Inverted-index join: explode shingles (hashed to long), join on the
    shingle hash, count common shingles per pair, then
    |A∩B| / (|A| + |B| − |A∩B|).

    The per-doc shingle SET table (``_shingle_sets``) is computed once;
    ``size(arr)`` supplies the per-doc count, and both join sides
    explode it back to rows. Unlike the minhash/simhash SIGNATURE tables
    (N rows of fixed width) its bytes grow with the corpus — see
    ``_shingle_sets`` for the checkpoint caveat.
    """
    arrs = _shingle_sets(df, text_col, id_col, n)
    sh = arrs.select("id", F.size("arr").alias("sz"), F.explode("arr").alias("shh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.shh") == F.col("b.shh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket_size: int | None) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket_size`` (the standard
    guard for the banded self-join at scale: one degenerate bucket —
    boilerplate/near-empty docs — otherwise goes quadratic). One window
    count, no extra join.

    The cap trades recall for a bound on candidate volume: a capped
    bucket's members may include genuinely distinct docs (with
    rows_per_band=1 a bucket keys on a single minhash), so capping is
    opt-in (default ``None``) and callers who enable it should measure
    the loss — ``capped_bucket_rows`` counts the excluded rows with the
    same window expression."""
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def capped_bucket_rows(df: DataFrame, keys: list[str], max_bucket_size: int) -> DataFrame:
    """The rows a ``max_bucket_size`` cap would exclude, per bucket —
    run alongside a capped dedup to make recall loss observable
    (``.groupBy(*keys).count()`` or a plain ``.count()``)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") > max_bucket_size)
        .drop("__bsz")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Band signatures bucket candidates (rows sharing any band collide);
    candidates are verified with exact n-gram Jaccard. Returns
    (id_a, id_b, jaccard >= threshold).

    ``max_bucket_size`` (opt-in; default None = no cap) bounds the
    per-bucket candidate blow-up (quadratic in bucket size): buckets
    above the cap are dropped, so worst-case candidate volume is
    bands × N × cap pairs instead of unbounded. Capping can lose recall
    — a bucket keyed on one minhash band can hold genuinely distinct
    docs — so at scale pair it with ``capped_bucket_rows`` to count
    what was dropped, and run ``exact_dedup`` first so identical-doc
    floods never reach the band join.

    Verification plan (r12 — the fix for the sf1 superlinearity the
    r11 verdict flagged): each doc's distinct shingle-hash set is
    collected ONCE as ``array<long>`` (the per-doc "shingle set"
    table); each candidate pair then verifies with
    ``size(array_intersect(arr_a, arr_b))`` — one row per CANDIDATE.
    The previous plan re-joined candidates against the exploded
    inverted index (two hash-relation probes per candidate×shingle =
    |cand|×|shingles/doc| intermediate rows: ~90M at sf1, each a
    random access into a >L3-sized hashed relation — measured 177 s
    CPU in that one stage, per-probe cost growing with relation
    size). The intersect does the same comparisons against a
    ~100-element LOCAL array: cache-resident, no intermediate rows.
    Row width bound: the array row is as wide as one doc's distinct
    shingle set (~8 B/shingle — a 100 KB web doc ≈ 160 KB row), the
    same total volume the exploded form shuffled, just contiguous.

    The min-signature aggregate is computed by RE-EXPLODING the
    materialized set table, not from the raw word pipeline: collect
    (ObjectHashAggregate — sort-fallback-bound, cheap when it carries
    no other expressions) and the 16 seed-mixed mins (pure codegen
    HashAggregate) stay in their fast paths, and the expensive word
    pipeline runs exactly once.
    Measured at sf1 (local[32], 50k docs): 1.9 s / 53 s CPU vs 23 s /
    406 s CPU for the r11 inverted-index plan — and the sf0.1→sf1
    scaling exponent drops from ~1.0 to ~flat.

    The set table and the signature table (N rows × shingle array /
    ×16 longs — tiny relative to the corpus at any scale) are lazily
    localCheckpointed: the signature-table materialization every
    production minhash pipeline does, so the collect agg runs once, not
    once per consumer.
    """
    if num_hashes % bands != 0 or bands < 1:
        # silent truncation would band on fewer hashes than requested
        # (16 hashes / 5 bands would quietly use 15) — recall math is
        # (1 - (1 - s^r)^b) with r = num_hashes/bands, so the caller
        # needs the exact factorization they asked for
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands

    arrs = _shingle_sets(df, text_col, id_col, shingle_n)
    sig = _minhash_rows(arrs, num_hashes)

    # per-band bucket from the signature columns, long-only hashing
    def band_bucket(b: int) -> Column:
        cols = [F.col(f"m{b * rows_per_band + i}") for i in range(rows_per_band)]
        return F.xxhash64(F.lit(b), *cols)

    # band rows carry (id, band, bucket) ONLY — the shingle array must
    # not ride through a bands-way explode
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    banded = _cap_buckets(banded, ["band", "bucket"], max_bucket_size)

    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    # stage 3: exact Jaccard per candidate — attach both docs' shingle
    # sets (two joins on id; broadcast when the set table is small,
    # shuffle-hash otherwise — AQE decides from the checkpointed size)
    # and intersect locally.
    #
    # The nondeterministic no-op term (+ spark_partition_id()*0 — always
    # exactly 0) pins `common` to a SINGLE evaluation (r15, the guide
    # §4.4 duplication fix applied to an expensive builtin): without it
    # CollapseProject inlines `common` into the jaccard expression and
    # filter pushdown copies that into the join condition, so
    # array_intersect — a per-pair hash-set build over ~|doc| longs —
    # executed 2× per CANDIDATE (numerator + denominator in the pushed
    # condition) and 2× more per survivor (plan showed 3 distinct
    # array_intersect sites; measured ~1.4× on dedup_minhash_verified).
    common = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b"))) + (
        F.spark_partition_id() * F.lit(0)
    )
    return (
        cand.join(arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")), "id_a")
        .join(arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")), "id_b")
        .withColumn("common", common)
        .withColumn("sz_a", F.size("arr_a"))
        .withColumn("sz_b", F.size("arr_b"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: round bound of the large-star/small-star loop in
#: ``connected_components``. Rounds grow as O(log² n) in the node count,
#: not with component diameter, so 30 is far beyond any real pair graph;
#: hitting it means something is wrong and the loop warns.
_CC_MAX_ROUNDS = 30


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster near-dup pairs into components: (id, canonical_id) with
    canonical = the minimum id reachable through the pair graph, for
    every id that appears in ``pairs``.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log² n) rounds — in practice a handful — regardless of component
    DIAMETER, so long chains (templated crawl pages linking a→b→c→…,
    ADVICE r2) come back exact. Min-label propagation would need one
    round per chain link.

    large-star: every neighbor v > u re-points to u's component-min m;
    small-star: every neighbor v ≤ u re-points to m. Both are one
    window-min + projection over the edge list — no driver data. Each
    round localCheckpoints so lineage stays flat, and the loop exits as
    soon as a round leaves the edge set unchanged.
    """
    import warnings

    from pyspark.sql import Window

    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    # self-pairs name a node but carry no edge
    nodes = e.select(F.col("u").alias("id")).union(e.select("v")).distinct()
    e = e.filter(F.col("u") != F.col("v"))

    wu = Window.partitionBy("u")

    def large_star(edges: DataFrame) -> DataFrame:
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(wu), F.col("u"))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges: DataFrame) -> DataFrame:
        o = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = F.least(F.min("v").over(wu), F.col("u"))
        nbr = o.withColumn("m", m)
        repointed = nbr.select(F.col("v").alias("u"), F.col("m").alias("v"))
        selfrow = nbr.select("u", F.col("m").alias("v"))
        return (
            repointed.union(selfrow)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def sig(edges: DataFrame) -> tuple:
        # set signature (edges are distinct): one cheap agg instead of
        # two exceptAll scans per round
        r = edges.agg(
            F.count(F.lit(1)).alias("c"),
            # decimal sum: exact and overflow-proof under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["c"], r["h"])

    prev = sig(e)
    for _ in range(_CC_MAX_ROUNDS):
        e = small_star(large_star(e)).localCheckpoint()
        cur = sig(e)
        if cur == prev:
            break
        prev = cur
    else:
        warnings.warn(
            f"connected_components did not stabilize in {_CC_MAX_ROUNDS} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # stabilized edge list is a star forest: u -> component min
    return (
        nodes.join(e.withColumnRenamed("u", "id"), "id", "left")
        .groupBy("id")
        .agg(F.min(F.coalesce("v", "id")).alias("canonical_id"))
        .select("id", F.least("id", "canonical_id").alias("canonical_id"))
    )


def dedup_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every doc's dedup decision: (id, canonical_id, is_kept). Docs in
    no pair are their own canonical; within a cluster the minimum id is
    kept — the materialized end state of the dedup pipeline."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("canonical_id", F.col("id")).alias("canonical_id"),
        )
        .withColumn("is_kept", F.col("id") == F.col("canonical_id"))
    )


def md5_word_hash(w: Column) -> Column:
    """Lower 64 bits of md5 (the last 16 hex chars, big-endian) as a
    long — a word hash an external SQL engine can reproduce (DuckDB has
    md5 but not xxhash64), which is what lets ``dedup_simhash_verified``
    hold the whole simhash pipeline to a relational oracle. Built from
    two 32-bit conv() halves because a single 16-hex-digit conv can
    exceed Long.MAX and null out under non-ANSI casts; shiftleft wraps
    bit-exactly."""
    hx = F.md5(w)
    hi = F.conv(F.substring(hx, 17, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 25, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """64-bit SimHash of each doc's word multiset: ``(id, sim)``.

    Each word's hash votes ±1 per bit position; the sign of each
    accumulated position becomes the output bit. Explode words → word
    hash → ONE hash aggregate with 64 bit-vote sum columns → recombine:
    every operator is whole-stage-codegen (a nested-lambda column form
    runs interpreted, ~10× slower in bulk). Map-side partial sums keep
    the shuffle at 64 ints per doc. ``word_hash`` defaults to xxhash64;
    pass ``md5_word_hash`` for the oracle-reproducible variant.
    """
    wrds = df.select(
        F.col(id_col).alias("id"),
        F.explode(_words(F.col(text_col))).alias("w"),
    ).select("id", word_hash(F.col("w")).alias("h"))
    votes = wrds.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sim = None
    for j in range(64):
        # j=63 is the sign bit of a two's-complement long
        bit_value = (1 << j) if j < 63 else -(1 << 63)
        term = F.when(F.col(f"b{j}") > 0, F.lit(bit_value).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim.bitwiseOR(term)
    return votes.select("id", sim.alias("sim"))


def _simhash_block_keys(num_blocks: int, max_hamming: int) -> list[tuple[int, ...]]:
    """Block-combination bucket scheme (Manku et al., WWW'07 §3): split
    the 64-bit signature into ``num_blocks`` blocks; hamming ≤ h leaves
    ≥ num_blocks − h blocks untouched, so two near-dups share at least
    one full combination of num_blocks − h blocks. Bucketing on every
    such combination guarantees recall with bucket keys of
    64·(k−h)/k bits — the knob that keeps buckets sparse at scale."""
    from itertools import combinations

    if max_hamming >= num_blocks:
        raise ValueError("num_blocks must exceed max_hamming (pigeonhole)")
    return list(combinations(range(num_blocks), num_blocks - max_hamming))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    num_blocks: int = 4,
    max_bucket_size: int | None = None,
    word_hash: Callable[[Column], Column] = F.xxhash64,
) -> DataFrame:
    """Near-dup candidates by simhash block-combination buckets, scored
    by exact hamming distance.

    ``num_blocks=4, max_hamming=3`` is the classic 4×16-bit chunk
    scheme (each combination is a single chunk). At billions of docs
    16-bit keys collapse (~N/65536 docs per bucket → quadratic
    self-join); raise ``num_blocks`` to widen keys: k=6 → C(6,3)=20
    bucket tables with ~32-bit keys, k=8 → 56 tables with 40-bit keys.
    Recall stays guaranteed by pigeonhole; candidate volume is
    #tables × N rows shuffled. ``max_bucket_size`` (opt-in, default
    None) additionally caps degenerate buckets — with it unset the
    pigeonhole recall guarantee is exact (see ``minhash_lsh_pairs`` for
    the cap trade-off).
    """
    # r14: the banded self-join consumes the signature table on both
    # sides and one side broadcasts, so Spark cannot reuse the exchange
    # — without the checkpoint the whole word-explode + word-hash +
    # 64-bit-vote aggregation ran TWICE (plans/r14: two full scan→
    # Generate→HashAggregate pipelines). N rows × (id, sim) — tiny at
    # any scale.
    sig = simhash_rows(df, text_col, id_col, word_hash).localCheckpoint(eager=False)

    # block c spans bits [starts[c], starts[c+1])
    bounds = [round(c * 64 / num_blocks) for c in range(num_blocks + 1)]

    def block_val(c: int) -> Column:
        width = bounds[c + 1] - bounds[c]
        return F.shiftrightunsigned(F.col("sim"), bounds[c]).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    combos = _simhash_block_keys(num_blocks, max_hamming)
    key_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                F.xxhash64(F.lit(t), *[block_val(c) for c in combo]).alias("val"),
            )
            for t, combo in enumerate(combos)
        ]
    )
    chunked = sig.select("id", "sim", F.explode(key_structs).alias("ck")).select(
        "id", "sim", F.col("ck.tbl").alias("tbl"), F.col("ck.val").alias("val")
    )
    chunked = _cap_buckets(chunked, ["tbl", "val"], max_bucket_size)
    pairs = (
        chunked.alias("x")
        .join(
            chunked.alias("y"),
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.sim").alias("sim_a"),
            F.col("y.sim").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.99,
    dim: int | None = None,
    num_planes: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine within a blocking key.

    The block join keeps this from being a cross join. ``block_col``
    may be an existing column, or the string ``"lsh"`` to derive
    random-hyperplane LSH buckets (the 100 TB path — identical/near
    vectors land in the same bucket with high probability, everything
    else never gets compared). Pass ``dim`` (vector length) and
    ``num_planes`` explicitly at scale; when omitted, dim comes from a
    limit-1 size probe and num_planes from the row count
    (``planes_for_rows``: ≈log2(N / target bucket size)).
    """
    if block_col == "lsh":
        from miso_spark.functions.similarity import planes_for_rows, with_lsh_buckets

        if dim is None:
            # free path first: column metadata (``withMetadata(vec_col,
            # {"dim": d})``, or a source that recorded it) costs no job
            md = df.schema[vec_col].metadata
            dim = md.get("dim") if isinstance(md.get("dim"), int) else None
        if dim is None:
            # last resort — limit-1 probe: reads one row's length, not
            # the vector data of a full scan (plain ArrayType can't
            # carry the dimension), but it does submit a job per call
            dim = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()[0]["d"]
        if num_planes is None:
            from miso_spark.functions.stats import approx_row_count

            # parquet-footer / env-hint estimate before any full scan
            num_planes = planes_for_rows(approx_row_count(df))
        df = with_lsh_buckets(df, vec_col, num_planes=num_planes, dim=dim)
        block_col = "lsh_bucket"
    # per-row norm ONCE before the pair join (r14, guide §1.2 per-task
    # work): the norm fold used to run per PAIR per side — ~2/3 of the
    # per-candidate array arithmetic for the identical value (same
    # aggregate fold, same double, so round(dot/(na*nb), 4) is
    # bit-identical)
    norm_once = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, z: acc + z * z)
    )
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_once.alias("nrm"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    # r14: the self-join consumes this projection on both sides and the
    # small side broadcasts (no exchange reuse), so the norm fold + LSH
    # bucket assignment ran twice per row without the checkpoint
    e = df.select(*cols).localCheckpoint(eager=False)
    join_cond = F.col("x.id") < F.col("y.id")
    if block_col:
        join_cond = join_cond & (F.col("x.blk") == F.col("y.blk"))
    pairs = e.alias("x").join(e.alias("y"), join_cond)
    dot = F.aggregate(
        F.zip_with(F.col("x.v"), F.col("y.v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    return (
        pairs.withColumn("cosine", F.round(dot / (F.col("x.nrm") * F.col("y.nrm")), 4))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "cosine")
    )


def near_dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """The 100 TB near-dedup runbook as one composed operator.

    The individual stages are safe in isolation but have one sharp
    interaction at scale: a flood of IDENTICAL documents (boilerplate
    pages, crawler retries) all share every minhash band, so one LSH
    bucket goes quadratic. This pipeline sequences the stages so that
    can't happen, which is why the bucket cap can default ON here while
    staying opt-in on the raw ``minhash_lsh_pairs``:

    1. ``exact_dedup`` pre-pass — identical docs collapse to one
       representative each (a linear hash-groupBy), so exact floods
       never reach the band join;
    2. capped minhash-LSH + exact-Jaccard verify over the
       representatives only (post-step-1, an over-cap bucket holds
       genuinely distinct near-dup text, where dropping the tail is an
       explicit recall trade — count it with ``capped_bucket_rows``);
    3. connected components over the verified pairs → cluster
       canonicals (min id);
    4. exact-dup members re-attach to their representative's cluster.

    Returns (id, canonical_id, is_kept) for EVERY input row — the same
    shape as ``dedup_assignments``. The bucket cap defaults to the
    cluster-scale setting; ``max_bucket_size=None`` turns it off.
    """
    # content_hash → representative. ex is consumed twice (the
    # representative semi-join and the member re-attach); the checkpoint
    # keeps each consumer from re-running the full scan + md5 + groupBy
    # (r14: plans/r14 showed documents scanned twice just to rebuild
    # this tiny table)
    ex = exact_dedup(df, text_col, id_col).localCheckpoint(eager=False)
    # representatives only: one row per distinct content
    reps = df.join(
        ex.select(F.col("canonical_id").alias(id_col)), id_col, "semi"
    )
    pairs = minhash_lsh_pairs(
        reps,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
    )
    rep_assign = dedup_assignments(reps, pairs, id_col)  # rep id → cluster canonical
    # every original id → its exact representative → that rep's cluster
    to_rep = df.select(
        F.col(id_col).alias("id"), F.md5(normalize(F.col(text_col))).alias("content_hash")
    ).join(ex.select("content_hash", F.col("canonical_id").alias("rep_id")), "content_hash")
    return (
        to_rep.join(
            rep_assign.select(F.col("id").alias("rep_id"), "canonical_id"), "rep_id"
        )
        .select("id", "canonical_id")
        .withColumn("is_kept", F.col("id") == F.col("canonical_id"))
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    n: int = 3,
    min_common_shingles: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation corpus.

    The standard pretraining hygiene step (n-gram-overlap
    decontamination as popularized by GPT-3/PaLM data cards): any
    training doc containing ≥ ``min_common_shingles`` distinct
    ``n``-gram shingles that also appear ANYWHERE in ``eval_df`` is
    contaminated. Shingles hash to longs and the eval side collapses to
    its distinct shingle set — normally tiny next to 100 TB of
    training text — so the plan is a broadcast semi-side aggregation,
    never an all-pairs comparison.

    Spark's broadcast threshold decides the join strategy: the eval
    set joins with no hint, so ``spark.sql.autoBroadcastJoinThreshold``
    at planning and AQE's runtime join selection (from the measured
    size of the eval side's exchange) pick broadcast for a small eval
    corpus and a shuffle join for an unexpectedly large one. Building
    the plan runs no job. An eval side with no size statistics (rows
    from ``createDataFrame``) plans as a shuffle join and only turns
    into a broadcast at runtime, after the training side's shingle
    exchange has run.

    Returns (id, common_shingles, contaminated) for EVERY input row —
    keep/filter decisions stay with the caller.
    """
    # RAW (possibly-duplicated) shingle rows on the train side (r15,
    # guide §2.3 shuffle-fewer-bytes): the per-(id, shh) distinct used
    # to shuffle the ENTIRE corpus's shingle table before the probe
    # join; counting DISTINCT shh per id after the join dedups only the
    # HIT rows — normally a sliver of 100 TB — so both exchanges below
    # carry hits, not the corpus.
    train = _hashed_shingle_rows(df, text_col, id_col, n)
    ev = (
        _hashed_shingle_rows(
            eval_df.select(
                F.monotonically_increasing_id().alias("__eid"),
                F.col(eval_text_col),
            ),
            eval_text_col,
            "__eid",
            n,
        )
        .select("shh")
        .distinct()
    )
    hits = (
        train.join(ev, "shh")
        .groupBy("id")
        .agg(F.count_distinct(F.col("shh")).alias("common_shingles"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("common_shingles", F.lit(0)).alias("common_shingles"),
            (F.coalesce("common_shingles", F.lit(0)) >= min_common_shingles).alias(
                "contaminated"
            ),
        )
    )
