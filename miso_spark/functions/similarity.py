"""Similarity search over an embedding column (array<float>).

- ``bruteforce_topk``: exact cosine top-k. Distributed as per-partition
  top-k (Catalyst TakeOrderedAndProject) — no global sort of all rows.
- ``lsh_buckets`` / ``lsh_topk``: random-hyperplane LSH. Hyperplanes
  are derived deterministically from xxhash64 so both the plan and the
  results are reproducible without shipping a random matrix.

No Python UDFs: dot products are zip_with/aggregate higher-order
functions executing in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, z: acc + z)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, z: acc + z * z))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def bruteforce_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    sort+limit lets Catalyst plan TakeOrderedAndProject: each partition
    keeps a k-heap and only k rows per partition reach the driver-side
    merge — this is the pattern that survives 100 TB.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col).alias("id"),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 4).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)


def _plane_signs(plane_id: int, dim: int) -> Column:
    """The ±1 hyperplane vector h_p, where h_p[j] derives from
    xxhash64(p, j) — a deterministic pseudo-random hyperplane: no
    broadcast matrix, and every executor computes the same planes
    locally."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.when(
            F.xxhash64(F.concat_ws(":", F.lit(str(plane_id)), j.cast("string")))
            .bitwiseAND(F.lit(1))
            == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )


#: plane-geometry constants, folded once per (plane_id, dim) per process
#: — NOT data-derived state: the sign vector is a pure function of the
#: plane id, evaluated through the exact `_plane_signs` expressions so
#: the folded constants equal the per-row `_hyperplane_sign` derivation
_PLANE_SIGN_CACHE: dict[tuple[int, int], list[float]] = {}


def _plane_sign_values(plane_ids: list[int], dim: int) -> list[list[float]]:
    """Fold the hyperplane sign vectors to Python constants with ONE
    1-row job (r14 optimization-round change, guide §4.1: the previous
    per-row form re-derived every plane element via interpreted
    transform + xxhash64 + string concat for EVERY input row — measured
    6.5× the whole bucket-assignment cost at 12 planes × dim 64).

    NOTE: on a cache miss this submits a 1-row Spark job at PLAN time
    (expression building), not execution time. ``SparkSession.active()``
    resolves the session in any thread: the thread's active session,
    else the process's default one (worker threads have no active
    session of their own)."""
    from pyspark.sql import SparkSession

    missing = [p for p in plane_ids if (p, dim) not in _PLANE_SIGN_CACHE]
    if missing:
        row = (
            SparkSession.active()
            .range(1)
            .select(*[_plane_signs(p, dim).alias(f"p{i}") for i, p in enumerate(missing)])
            .first()
        )
        for i, p in enumerate(missing):
            _PLANE_SIGN_CACHE[(p, dim)] = [float(x) for x in row[f"p{i}"]]
    return [_PLANE_SIGN_CACHE[(p, dim)] for p in plane_ids]


def _hyperplane_sign(vec: Column, plane_id: int, dim: int) -> Column:
    """sign(v · h_p) as a 0/1 bit, deriving h_p per row — the reference
    form that ``lsh_bucket``'s folded constants are tested against."""
    return F.when(_dot(vec, _plane_signs(plane_id, dim)) >= 0, F.lit(1)).otherwise(F.lit(0))


def planes_for_rows(n_rows: int, target_bucket: int = 256) -> int:
    """Scale-derived default for ``num_planes``: ≈log2(N / target
    bucket size), floor 4. 16 buckets are fine at 10⁴ vectors but
    O(N²/16) at 10⁹ — planes must grow with N. At cluster scale pass
    N from table statistics instead of counting."""
    import math

    if n_rows <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(n_rows / target_bucket)))


def lsh_bucket(vec: Column, num_planes: int, dim: int) -> Column:
    """Random-hyperplane LSH bucket id (int in [0, 2^num_planes)).

    The plane sign vectors are folded to literal arrays once per
    process (`_plane_sign_values` — note its plan-time 1-row job on
    first use per (plane, dim)), so the per-row work is num_planes
    dot products against constants — the same zip_with/aggregate fold
    as ``_hyperplane_sign`` (bit-identical bucket ids, asserted in
    test_pipeline_ops.test_lsh_bucket_folded_signs_match_expression_path)
    without the per-row per-element hash derivation that used to
    dominate the stage (6.5× at 12 planes × dim 64, sf0.1 embeddings)."""
    signs = _plane_sign_values(list(range(num_planes)), dim)
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(*[F.lit(s) for s in signs[p]])
        sign_bit = F.when(_dot(vec, plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(sign_bit, p)
    return bucket


def with_lsh_buckets(
    df: DataFrame, vec_col: str = "embedding", num_planes: int = 4, dim: int = 64
) -> DataFrame:
    return df.withColumn(
        "lsh_bucket", lsh_bucket(F.col(vec_col).cast("array<double>"), num_planes, dim)
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 7,
    max_iter: int = 10,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means cells over the vectors.

    Returns (df + ``ivf_cell`` column, cell centroids). MLlib KMeans
    runs distributed (JVM); the centroid list is k×dim floats — tiny at
    any data scale. At 100 TB the assigned table is written
    partitioned/bucketed by ``ivf_cell`` so a query scans only its
    probed cells (partition pruning), which is the IVF trade: one
    k-means build pass, then every query touches nprobe/n_cells of the
    data.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn("__fv", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="__fv", predictionCol="ivf_cell"
    ).fit(feat)
    assigned = model.transform(feat).drop("__fv")
    return assigned, [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k via IVF: score only the ``nprobe`` cells whose
    centroids are nearest the query (cosine), exact within them.

    Here the index builds in-line for self-containment; production use
    builds ``ivf_assign`` once and persists the assigned table
    partitioned by cell.
    """
    assigned, centers = ivf_assign(df, vec_col, n_cells, seed)
    q = [float(x) for x in query_vec]
    qn = sum(x * x for x in q) ** 0.5

    def cos(c: list[float]) -> float:
        cn = sum(x * x for x in c) ** 0.5 or 1e-12
        return sum(a * b for a, b in zip(q, c)) / (qn * cn)

    probe = sorted(range(len(centers)), key=lambda i: -cos(centers[i]))[:nprobe]
    cand = assigned.filter(F.col("ivf_cell").isin(probe))
    return bruteforce_topk(cand, q, k, vec_col, id_col)


def lsh_probe_budget(num_planes: int) -> int:
    """The recall-safe multi-probe budget ``1 + P + C(P, 2)``: the
    exact bucket, every single-plane flip, and every pair flip. A true
    neighbor at angle θ disagrees with each plane with probability
    θ/π, so at P planes the chance it sits ≥3 flips away is small even
    for weak-similarity corpora (θ ≈ 60°) — the regimes where the r13
    sf1 gauge measured single-probe recall@10 at ~0.13 and this budget
    at 0.40-0.60 (BASELINE.md envelope)."""
    return 1 + num_planes + num_planes * (num_planes - 1) // 2


def expected_plane_collision(cos_sim: float) -> float:
    """Per-plane collision probability ``1 - θ/π`` for a neighbor at
    the given cosine similarity — the closed-form lever behind the
    recall envelope (callers can estimate expected recall BEFORE a
    full run from a sampled neighbor cosine)."""
    import math

    return 1.0 - math.acos(max(-1.0, min(1.0, cos_sim))) / math.pi


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int | None = 4,
    dim: int | None = None,
    probes: int | None = None,
) -> DataFrame:
    """ANN top-k: scan the query's LSH bucket(s), then exact cosine.

    At 100 TB the table would be written bucketed/partitioned by
    ``lsh_bucket`` so this prunes to 1/2^planes of the data before any
    scoring. ``num_planes=None`` derives the bucket count from the row
    count (``planes_for_rows``); ``probes > 1`` enables multi-probe —
    also scanning the buckets reached by flipping the query's
    weakest-margin planes, recovering the recall that more planes cost.

    ``probes=None`` (the default) uses the full recall-safe budget
    ``1 + P + C(P, 2)`` (exact bucket + single flips + pairs) — the
    r13 sf1 gauge showed a SINGLE-probe default holds only ~0.13
    recall@10 on a weak-similarity corpus, a silent footgun at scale
    (r13→14 verdict #6). Pass ``probes=1`` explicitly to trade recall
    for the minimum 1/2^P scan when the corpus's neighbors are tight
    (cosine ≥ 0.9).

    Recall envelope (measured at the sf1 bench corpus, recorded in
    BASELINE.md and gated by test_scale_utils): hyperplane-LSH recall
    is governed by the NEIGHBORS' similarity, not the index — per-plane
    collision is ``1 - θ/π``, so a corpus whose true top-k sit at
    cosine ~0.4-0.5 (θ≈63°, collision ~0.65/plane) needs a probe
    budget near ``1 + P + C(P,2)`` buckets for useful recall, while a
    corpus with tight neighbors (cosine ≥0.9) prunes hard at one
    probe. For weak-similarity corpora prefer ``ivf_topk`` — IVF rides
    the data's actual cluster structure and held ~0.68 recall@10 at
    sf1 where single-probe LSH held ~0.13.
    """
    from itertools import combinations

    q = [float(x) for x in query_vec]
    if dim is None:
        dim = len(q)
    if num_planes is None:
        from miso_spark.functions.stats import approx_row_count

        # parquet-footer / env-hint estimate before any full scan
        num_planes = planes_for_rows(approx_row_count(df))
    if probes is None:
        probes = lsh_probe_budget(num_planes)

    # compute the query's per-plane margins with a 1-row DataFrame
    # through the same expressions, so driver and executors can never
    # disagree on plane derivation
    spark = df.sparkSession
    qdf = spark.range(1).select(F.array(*[F.lit(x) for x in q]).alias("qv"))
    margins = qdf.select(
        *[_dot(F.col("qv"), _plane_signs(p, dim)).alias(f"d{p}") for p in range(num_planes)]
    ).first()
    base = sum((1 << p) for p in range(num_planes) if margins[f"d{p}"] >= 0)

    # probe sequence: exact bucket, then single flips of the
    # weakest-margin planes, then pairs — |margin| orders how likely a
    # true neighbor fell just across that plane
    weakness = sorted(range(num_planes), key=lambda p: abs(margins[f"d{p}"]))
    flip_sets: list[tuple[int, ...]] = [()]
    flip_sets += [(p,) for p in weakness]
    flip_sets += list(combinations(weakness, 2))
    buckets = []
    for fs in flip_sets[: max(1, probes)]:
        b = base
        for p in fs:
            b ^= 1 << p
        buckets.append(b)

    bucketed = with_lsh_buckets(df, vec_col, num_planes, dim)
    cand = bucketed.filter(F.col("lsh_bucket").isin(buckets))
    return bruteforce_topk(cand, q, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# embedding storage utilities (all JVM higher-order expressions — no
# Python in the hot path)

def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str | None = None
) -> DataFrame:
    """L2-normalize an embedding column (unit vectors make cosine a
    plain dot product, halving the work in repeated scoring). Zero
    vectors stay zero instead of dividing to NaN."""
    # materialize the norm once in a scratch column: referencing the
    # aggregate inside the transform lambda would re-evaluate it per
    # ELEMENT — O(d^2) per vector on the path this targets
    v = F.col(vec_col).cast("array<double>")
    out = df.withColumn("__n", _norm(v))
    n = F.col("__n")
    unit = F.when(n == 0, v).otherwise(F.transform(v, lambda x: x / n))
    return out.withColumn(out_col or vec_col, unit).drop("__n")


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "embedding_q8"
) -> DataFrame:
    """Symmetric int8 quantization: ``struct(scale double, q
    array<tinyint>)`` with ``x ≈ q * scale`` and scale = max|x| / 127
    per vector — 4× smaller at rest than float32 (8× vs the float64
    Spark arrays), the standard storage layout for billion-vector
    corpora. Zero vectors quantize to scale 0 and all-zero codes."""
    v = F.col(vec_col).cast("array<double>")
    out = df.withColumn(
        "__amax",
        F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))),
    )
    amax = F.col("__amax")  # scratch column: see normalize_embeddings
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(amax == 0, F.transform(v, lambda x: F.lit(0).cast("byte"))).otherwise(
        F.transform(v, lambda x: F.round(x / (amax / 127.0)).cast("byte"))
    )
    return out.withColumn(out_col, F.struct(scale, q.alias("q"))).drop("__amax")


def dequantize(qcol: Column) -> Column:
    """``array<double>`` back from a :func:`quantize_embeddings`
    struct (lossy: within scale/2 per component)."""
    return F.transform(
        qcol.getField("q"),
        lambda c: c.cast("double") * qcol.getField("scale"),
    )


def cosine_q8(a: Column, b: Column) -> Column:
    """Cosine directly between two quantized structs: scales cancel in
    the normalization, so this is exactly the cosine of the dequantized
    vectors — integer dot products, no float reconstruction pass."""
    qa, qb = a.getField("q"), b.getField("q")
    da = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, z: acc + z,
    )
    na = F.sqrt(F.aggregate(qa, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(qb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    # zero vectors (scale 0, all-zero codes — explicitly supported by
    # quantize_embeddings) score 0 instead of a silently-propagating
    # null from the 0/0 division
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(da / (na * nb))
