"""Similarity search over embedding columns (array<float>).

Two paths, mirroring what a 100 TB training-data pipeline needs:

  brute-force top-k — exact baseline: queries (small) are broadcast against
      the corpus; per-row dot products run JVM-side via zip_with/aggregate
      higher-order functions (no Python). Cost O(|corpus| * |queries| * d),
      embarrassingly parallel, zero shuffle until the final per-query top-k
      (TakeOrdered over k*|queries| rows).

  LSH-bucketed ANN — scale path: random-hyperplane (sign) sketches computed
      from deterministic pseudo-planes (hash-derived, no RNG state), bucket
      join on sketch prefix, exact re-rank inside buckets. Recall tested
      against the brute-force baseline in tests/test_similarity.py.

Exact variant for oracle comparison: elements are quantized to 1e-6 via
floor(double(x) * 1e6) — an IEEE-exact multiply+floor that both Spark and
DuckDB compute bit-identically — then dot products run in int64 (exact,
order-independent). Decimal casts of raw floats are NOT portable: Spark
converts float->decimal through the shortest decimal repr while DuckDB
rounds the binary expansion, so the 12th digit can differ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hurricanedb_spark.operators.skew import fan_out

QSCALE = 1_000_000  # quantization: 1e-6 resolution, products fit int64


def _quant(x: Column) -> Column:
    return F.floor(x.cast("double") * QSCALE).cast("long")


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent exact dot product over 1e-6-quantized elements.
    Returns the scaled integer dot (divide by QSCALE^2 for the real value)."""
    prods = F.zip_with(a, b, lambda x, y: _quant(x) * _quant(y))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, p: acc + p)


def norm_exact(a: Column) -> Column:
    return F.sqrt(dot_exact(a, a).cast("double"))


def cosine_exact(a: Column, b: Column) -> Column:
    """Cosine of the quantized vectors, in double — bit-identical across
    engines given identical float inputs (scale factors cancel)."""
    return dot_exact(a, b).cast("double") / (norm_exact(a) * norm_exact(b))


def dot_fast(a: Column, b: Column) -> Column:
    """Production path: double fold, JVM codegen, no decimal overhead."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )


def cosine_fast(a: Column, b: Column) -> Column:
    return dot_fast(a, b) / (F.sqrt(dot_fast(a, a)) * F.sqrt(dot_fast(b, b)))


# --- per-vector precomputation for pair re-ranks (round-15) ------------------
#
# cosine over a candidate PAIR needs three folds (dot(a,b), |a|, |b|) plus —
# on the exact path — per-element quantization of BOTH sides. The norms and
# the quantized arrays are per-VECTOR quantities: computing them once in the
# per-side projection and carrying them through the join turns the per-pair
# work into a single long/double fold. Bit-identity: `quantized_vec` applies
# the same `_quant` per element, `dot_quantized` runs the same left fold over
# the same values, and the cosine expressions below keep the exact operator
# tree of cosine_exact / cosine_fast (sqrt of the double-cast self-dot,
# a-then-b multiplication order), so every emitted double is unchanged.


def quantized_vec(a: Column) -> Column:
    """The 1e-6-quantized image of a vector as array<long>, precomputed
    once per vector instead of per pair inside the dot fold."""
    return F.transform(a, _quant)


def dot_quantized(qa: Column, qb: Column) -> Column:
    """dot_exact over already-quantized arrays (same fold, long inputs)."""
    prods = F.zip_with(qa, qb, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, p: acc + p)


def norm_quantized(qa: Column) -> Column:
    """norm_exact over an already-quantized array."""
    return F.sqrt(dot_quantized(qa, qa).cast("double"))


def norm_fast(a: Column) -> Column:
    """The double-path vector norm (the denominator factor of
    cosine_fast), precomputable once per vector."""
    return F.sqrt(dot_fast(a, a))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per query vector (self-matches excluded).

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, deterministic
    tiebreak on neighbor_id.
    """
    from pyspark.sql import Window as W

    # a narrow corpus scan would run the whole O(|corpus| * |queries|)
    # scoring loop (JVM fold expressions — genuinely slow per pair) on
    # its one-task scan stage. min_rows: below ~10k corpus rows the
    # exchange costs more than the serial folds (round-15 interleaved
    # A/B: 1.19x worse at 2k rows, 0.41x — 2.4x faster — at 20k);
    # identity when the scan already has >= cores splits.
    corpus = fan_out(corpus, min_rows=10_000)
    # norms (and on the exact path, quantized arrays) are per-vector —
    # precomputed in the side projections so each of the O(|corpus| *
    # |queries|) scored pairs runs ONE dot fold, not three (round-15;
    # bit-identical, see the precomputation helpers' note)
    if exact:
        q = queries.withColumn("__q", quantized_vec(F.col(vec_col))).select(
            F.col(id_col).alias("query_id"),
            F.col("__q").alias("__qvec"),
            norm_quantized(F.col("__q")).alias("__qn"),
        )
        c = corpus.withColumn("__q", quantized_vec(F.col(vec_col))).select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__q").alias("__cvec"),
            norm_quantized(F.col("__q")).alias("__cn"),
        )
        pair_cos = dot_quantized(F.col("__qvec"), F.col("__cvec")).cast("double") / (
            F.col("__qn") * F.col("__cn")
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            norm_fast(F.col(vec_col)).alias("__qn"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
            norm_fast(F.col(vec_col)).alias("__cn"),
        )
        pair_cos = dot_fast(F.col("__qvec"), F.col("__cvec")) / (
            F.col("__qn") * F.col("__cn")
        )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- LSH-bucketed ANN (scale path) ------------------------------------------


def _planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes — fixed seed, generated at
    plan-build time and embedded as literals (identical on every executor
    and every run; no RNG state at execution time)."""
    import random

    rng = random.Random(9176)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _table_sketches(vec: Column, dim: int, n_tables: int, bits: int) -> Column:
    """Array of per-table bucket ids: table t uses its own `bits` planes.
    Multi-table LSH: a pair is a candidate if it collides in ANY table —
    recall compounds across tables while each table stays selective."""
    planes = _planes(dim, n_tables * bits)
    sketches = []
    for t in range(n_tables):
        sketch = F.lit(t * (2**bits)).cast("long")  # disjoint id space per table
        for b in range(bits):
            plane_arr = F.array(*[F.lit(v) for v in planes[t * bits + b]])
            dot = F.aggregate(
                F.zip_with(vec, plane_arr, lambda x, r: x.cast("double") * r),
                F.lit(0.0),
                lambda acc, term: acc + term,
            )
            sketch = sketch + F.when(dot > 0, F.lit(2**b).cast("long")).otherwise(0)
        sketches.append(sketch)
    return F.array(*sketches)


def _table_sketches_kernel(dim: int, n_tables: int, bits: int, probe_flips: int = 0):
    """Arrow-batched form of _table_sketches: one numpy matmul computes
    every plane dot for a whole batch (N x d @ d x T*B), instead of
    T*B interpreted aggregate() folds per row. Same planes, same strict
    sign rule; used on the CORPUS side where N is large — the expression
    form remains for plan-literal contexts and documentation.

    `probe_flips` > 0 is MULTI-PROBE (query-side only): for each table,
    also emit the buckets reached by flipping the `probe_flips` planes
    with the smallest |dot| margin — the planes most likely to disagree
    for a true near neighbor. Each flip multiplies the emitted bucket
    ids (T*(1+probe_flips) per vector) but recall rises without touching
    the corpus-side layout or shuffle, which is the expensive side."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(_planes(dim, n_tables * bits), dtype=np.float64)  # (T*B, d)
    weights = 2 ** np.arange(bits, dtype=np.int64)
    offsets = (np.arange(n_tables, dtype=np.int64) * (2**bits))

    @pandas_udf("array<bigint>")
    def _sk(v):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        dots = X @ P.T  # (n, T*B)
        bits_on = dots > 0.0
        per_table = bits_on.reshape(len(X), n_tables, bits) @ weights
        ids = per_table + offsets[None, :]
        if probe_flips:
            margins = np.abs(dots).reshape(len(X), n_tables, bits)
            order = np.argsort(margins, axis=2, kind="stable")
            one = np.int64(1)
            variants = [ids]
            for f in range(min(probe_flips, bits)):
                flip_bit = order[:, :, f].astype(np.int64)  # (n, T)
                variants.append(
                    (per_table ^ np.left_shift(one, flip_bit))
                    + offsets[None, :]
                )
            ids = np.concatenate(variants, axis=1)
        return pd.Series([row.tolist() for row in ids])

    return _sk


class LshBucketOverflowError(ValueError):
    """Raised when expected bucket population N / 2^bits exceeds
    `max_bucket_size`: in that regime the hot-bucket cap would drop EVERY
    bucket and the LSH path would return ~zero pairs with no error — the
    silent-failure class the round-10 guards were built to kill. Raise
    `max_bucket_size`, widen `bits_range`, or shrink `target_bucket`."""


def _adaptive_bits(
    n: int, target_bucket: int, bits_range: tuple[int, int]
) -> int:
    """Per-table bucket granularity that holds the bucket POPULATION
    constant as N grows: ceil(log2(N / target_bucket)), clamped to
    `bits_range`. Fixed bits quietly revert the bucket self-join to
    quadratic (at 4 bits / 16 buckets, 20k vectors already produce ~1e8
    candidate pairs — measured, round 10); with constant population B
    candidates stay ~= n_tables * N * B/2, linear in N.

    Valid-N ranges per bits (target_bucket=64): bits b covers
    N in (64*2^(b-1), 64*2^b]; the default clamp hi=40 covers
    N <= 64*2^40 ~= 7e13 vectors before _check_bucket_overflow raises."""
    import math as _math

    lo, hi = bits_range
    if n <= target_bucket:
        return lo
    return max(lo, min(hi, _math.ceil(_math.log2(n / target_bucket))))


def _check_bucket_overflow(
    n: int,
    bits: int,
    max_bucket_size: int | None,
    knobs: str,
) -> None:
    if max_bucket_size is not None and n / (2**bits) > max_bucket_size:
        raise LshBucketOverflowError(
            f"expected bucket population N/2^bits = {n}/2^{bits} ~= "
            f"{n / (2 ** bits):.0f} exceeds max_bucket_size="
            f"{max_bucket_size}: the hot-bucket cap would drop every "
            f"bucket and return ~zero pairs silently ({knobs})."
        )


def _auto_tables(
    bits: int,
    threshold: float,
    recall_target: float = 0.98,
    max_tables: int = 64,
) -> int:
    """Number of hash tables needed to hold `recall_target` for pairs at
    cosine `threshold` given `bits` planes per table. Per-plane agreement
    p1 = 1 - acos(threshold)/pi; per-table collision p = p1^bits; recall
    over T tables = 1 - (1-p)^T, so T = ceil(log(1-R) / log(1-p)).

    Holding recall as bits grows is NOT free — T grows like p1^-bits
    (threshold 0.95: 9 bits -> 9 tables, 14 -> 15, 20 -> 31, 27 -> 64 =
    the default cap, beyond which recall decays: ~0.93 at 30 bits, ~0.59
    at 40). The cap bounds the O(N * T) shuffle; past it the recall
    curve is a WARNED trade (round-12, the LshBucketOverflowError
    loud-guard convention applied to the last silent degradation in this
    path): when the computed T exceeds `max_tables`, a RuntimeWarning
    names the projected recall at the cap and the knobs — pass a larger
    `max_tables` to buy recall with shuffle volume, or lower bits via
    target_bucket/bits_range."""
    import math as _math
    import warnings as _warnings

    theta = _math.acos(max(-1.0, min(1.0, threshold)))
    p_table = (1.0 - theta / _math.pi) ** bits

    def _warn_capped(t_needed: float) -> None:
        recall_at_cap = 1.0 - (1.0 - p_table) ** max_tables
        _warnings.warn(
            f"_auto_tables: holding recall_target={recall_target} for "
            f"pairs at cosine {threshold} with bits={bits} needs "
            f"{t_needed:.0f} hash tables, above max_tables={max_tables}; "
            f"projected recall AT THE CAP is ~{recall_at_cap:.3f}. Raise "
            "max_tables (shuffle volume grows O(N*T)) or lower bits "
            "(target_bucket / bits_range) to restore the target.",
            RuntimeWarning,
            stacklevel=3,
        )

    if p_table >= 1.0 or recall_target <= 0.0:
        return 1
    if p_table <= 0.0:
        _warn_capped(float("inf"))
        return max_tables
    t = _math.ceil(_math.log(1.0 - recall_target) / _math.log(1.0 - p_table))
    if t > max_tables:
        _warn_capped(t)
    return max(1, min(max_tables, t))


def ann_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    bits: int | None = None,
    target_bucket: int = 64,
    max_bucket_size: int | None = 4096,
    bits_range: tuple[int, int] = (4, 40),
    probe_flips: int = 1,
    kernel: bool = True,
) -> DataFrame:
    """Distinct (query_id, neighbor_id) LSH candidate pairs — the bucket
    join underneath ann_topk, exposed so candidate VOLUME is testable:
    with adaptive bits the expected candidate count per query stays
    ~n_tables * (1 + probe_flips) * target_bucket as N grows (flat, not
    O(N)).

    `bits` defaults adaptive (one count() at plan time, the
    lsh_neardup_pairs convention); explicit bits skips the count AND the
    bucket-overflow guard — a pinned 100 TB pipeline owns its sizing.
    `max_bucket_size` drops degenerate corpus buckets (zero vectors,
    constant embeddings) before the join; the guard raises loudly when
    the cap would drop every bucket. `probe_flips` is QUERY-side
    multi-probe (flip the lowest-|margin| planes per table): recall
    rises at constant corpus shuffle — the query side is broadcast, so
    extra probes are nearly free at scale.

    Round-12 (r11 verdict #2 of 'what's wrong'): the hot-bucket cap no
    longer shuffles the corpus sketches. The old
    count().over(Window.partitionBy(__bucket)) moved EVERY corpus sketch
    row by bucket before the (broadcast) bucket join — a full corpus
    shuffle paid purely for bucket sizes. Now the sizes come from a
    groupBy(__bucket).count() (map-side partial aggregation: the shuffle
    carries (bucket, partial count) pairs, not rows) and the few
    oversized buckets — few by construction, expected population is
    target_bucket — are removed with a broadcast LEFT ANTI join, so the
    corpus side of this operator plans ZERO full-data exchanges."""
    if probe_flips and not kernel:
        raise ValueError(
            "ann_candidate_pairs: probe_flips requires the Arrow kernel "
            "path (kernel=True) — the expression form emits base buckets "
            "only; pass probe_flips=0 to use it."
        )
    if bits is None:
        n = corpus.count()
        bits = _adaptive_bits(n, target_bucket, bits_range)
        _check_bucket_overflow(
            n,
            bits,
            max_bucket_size,
            f"bits_range={bits_range}, target_bucket={target_bucket}",
        )
    # NO fan_out here (round-15, measured): the sketch kernel is one
    # vectorized numpy call per batch — cheap even serially (1.35-1.46x
    # WORSE with the exchange at sf0.1 AND sf1, interleaved A/B); the
    # expensive per-pair work downstream already rides the bucket
    # join's own exchange.
    corpus_sketches = (
        _table_sketches_kernel(dim, n_tables, bits)
        if kernel
        else lambda col: _table_sketches(col, dim, n_tables, bits)
    )
    query_sketches = (
        _table_sketches_kernel(dim, n_tables, bits, probe_flips=probe_flips)
        if kernel
        else corpus_sketches
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(corpus_sketches(F.col(vec_col))).alias("__bucket"),
    )
    if max_bucket_size is not None:
        # Deliberate compute-vs-shuffle trade (same one lsh_neardup_pairs
        # documents): referencing `c` twice re-evaluates the sketch
        # kernel over the corpus for the `hot` side, but that pass is a
        # map-only scan feeding a partial-aggregated (bucket, count)
        # shuffle — no full-row exchange. Caching `c` instead would pin
        # the exploded corpus (n_tables × rows) in executor storage with
        # no safe unpersist point (the returned plan is lazy), which at
        # 100 TB is a worse failure mode than one extra kernel scan.
        hot = (
            c.groupBy("__bucket")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("__bucket")
        )
        c = c.join(F.broadcast(hot), "__bucket", "left_anti")
    # no distinct needed: a flipped bucket always differs from the base
    # and from other flips (distinct planes), so (query_id, __bucket)
    # rows are unique by construction — and the final pair-level
    # .distinct() below dedups cross-table collisions anyway
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(query_sketches(F.col(vec_col))).alias("__bucket"),
    )
    return (
        c.join(F.broadcast(q), "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_tables: int = 8,
    bits: int | None = None,
    target_bucket: int = 64,
    max_bucket_size: int | None = 4096,
    bits_range: tuple[int, int] = (4, 40),
    probe_flips: int = 1,
    kernel: bool = True,
) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH + exact cosine re-rank.

    Cost model at scale: corpus emits n_tables rows per vector into a
    bucket join keyed by (table|bucket) — shuffle volume O(N * n_tables),
    never O(N^2); re-rank touches only colliding pairs. Queries are
    broadcast (query batches are small relative to the corpus). `bits`
    defaults ADAPTIVE — ceil(log2(N / target_bucket)) clamped to
    `bits_range` — so candidate volume per query stays ~n_tables *
    (1 + probe_flips) * target_bucket instead of O(N / 2^const) (fixed
    bits=4 was the same measured defect class as the round-10 near-dup
    reversion: 16 buckets per table make the bucket join a
    constant-factor-off brute force). `probe_flips` (default 1) is
    query-side MULTI-PROBE — each query also probes the bucket reached
    by flipping its lowest-|margin| plane per table, buying recall at
    constant corpus-side shuffle. Only candidate ID pairs are
    deduplicated; vectors travel once per surviving pair via the
    join-backs."""
    from pyspark.sql import Window as W

    cand = ann_candidate_pairs(
        corpus,
        queries,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        n_tables=n_tables,
        bits=bits,
        target_bucket=target_bucket,
        max_bucket_size=max_bucket_size,
        bits_range=bits_range,
        probe_flips=probe_flips,
        kernel=kernel,
    )
    # per-vector norms precomputed in the join-back projections: each
    # surviving candidate pair then pays one dot fold instead of three
    # (round-15; bit-identical to cosine_fast — same operator tree)
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_fast(F.col(vec_col)).alias("__cn"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_fast(F.col(vec_col)).alias("__qn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_fast(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- IVF ANN (data-dependent scale path) -------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_fraction: float = 1.0,
    seed: int = 9176,
) -> list[list[float]]:
    """Train an IVF coarse quantizer: k-means centroids over (a sample of)
    the corpus. At 100 TB the standard practice is to train on a small
    sample (centroid quality converges long before 1% of the data) and
    assign the full corpus with the fixed centroids — the expensive full
    pass is pure JVM expression work, not ML iteration."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction < 1.0:
        df = df.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(df)
    return [c.tolist() for c in model.clusterCenters()]


def _l2sq_to(vec: Column, centroid: list[float]) -> Column:
    arr = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def ivf_cells(vec: Column, centroids: list[list[float]], n_probe: int = 1) -> Column:
    """The `n_probe` nearest centroid ids for a vector, as an array<int>.
    Centroids are plan-time literals (broadcast-free, identical on every
    executor); the distance folds are zip_with/aggregate expressions inside
    codegen — no Python, no UDF."""
    dists = F.array(
        *[
            F.struct(_l2sq_to(vec, c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.array_sort(dists), 1, n_probe)
    return F.transform(top, lambda s: s["c"])


def ivf_cells_kernel(centroids: list[list[float]], n_probe: int):
    """Arrow-batched form of ivf_cells: one matmul assigns a whole batch
    to cells ( ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2 ), stable argsort
    for the expression path's (distance, centroid-id) tie-break."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    cn = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def _cells(v):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn[None, :]
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.tolist() for row in idx])

    return _cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    kernel: bool = True,
) -> DataFrame:
    """IVF ANN: corpus rows live in exactly ONE cell (nearest centroid);
    queries probe their `n_probe` nearest cells; exact cosine re-rank
    inside the probed cells.

    Scale shape: the corpus never shuffles — cell assignment is a map-side
    expression and the query side is broadcast, so the only exchange is
    the final per-query top-k window over candidate rows
    (O(N * n_probe / n_cells) per query, not O(N)). Versus LSH: recall
    comes from data-dependent partition boundaries instead of random
    planes, so the same probe budget buys higher recall on clustered data.
    """
    from pyspark.sql import Window as W

    if kernel:
        cells1 = ivf_cells_kernel(centroids, 1)
        cellsp = ivf_cells_kernel(centroids, n_probe)
        corpus_cell = cells1(F.col(vec_col))[0]
        query_cells = cellsp(F.col(vec_col))
    else:
        corpus_cell = ivf_cells(F.col(vec_col), centroids, 1)[0]
        query_cells = ivf_cells(F.col(vec_col), centroids, n_probe)
    # per-vector norms precomputed in the side projections (round-15;
    # bit-identical to cosine_fast — same operator tree). NO fan_out:
    # the cell kernel is one numpy distance matrix per batch, cheap
    # serially (fan_out measured flat-to-1.07x worse at sf0.1/sf1).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_fast(F.col(vec_col)).alias("__cn"),
        corpus_cell.alias("__cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_fast(F.col(vec_col)).alias("__qn"),
        F.explode(query_cells).alias("__cell"),
    )
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_fast(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --- Near-duplicate pairs over the whole corpus ------------------------------


class QuadraticPairsError(ValueError):
    """Raised when the exact all-pairs cosine baseline would run a
    quadratic self-join over more vectors than the configured cap."""


def exact_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_vectors: int = 5_000,
) -> DataFrame:
    """Exact all-pairs cosine near-dup — the EXACT BASELINE / oracle
    metric (quantized int64 dot, cross-engine bit-identical). Cost is
    O(N^2) pairs BY CONSTRUCTION, and the self-join parallelism collapses
    to the join's partitioning, so this is never the 100 TB path: the
    guard refuses past `max_vectors` (the ngram_jaccard_pairs pattern —
    one cheap count, loud error naming the scale path) and
    `lsh_neardup_pairs` is the production route.

    Output: (id_a < id_b, cosine) pairs with cosine >= threshold."""
    n = df.count()
    if n > max_vectors:
        raise QuadraticPairsError(
            f"exact_neardup_pairs: {n} vectors > max_vectors="
            f"{max_vectors}; the exact baseline is O(N^2) pairs — use "
            "lsh_neardup_pairs (bucketed candidates + exact re-rank) as "
            "the scale path, or raise max_vectors deliberately."
        )
    # quantized arrays + norms precomputed per vector, not per pair
    # (round-15; bit-identical to cosine_exact — same operator tree);
    # fan out a narrow scan so the quadratic pair loop fused onto it
    # runs at cluster width (identity at scale)
    df = fan_out(df)
    a = df.withColumn("__q", quantized_vec(F.col(vec_col))).select(
        F.col(id_col).alias("id_a"),
        F.col("__q").alias("__va"),
        norm_quantized(F.col("__q")).alias("__na"),
    )
    b = df.withColumn("__q", quantized_vec(F.col(vec_col))).select(
        F.col(id_col).alias("id_b"),
        F.col("__q").alias("__vb"),
        norm_quantized(F.col("__q")).alias("__nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot_quantized(F.col("__va"), F.col("__vb")).cast("double")
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_neardup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int | None = None,
    bits: int | None = None,
    target_bucket: int = 64,
    max_bucket_size: int | None = 4096,
    bits_range: tuple[int, int] = (4, 40),
    recall_target: float = 0.98,
    max_tables: int = 64,
    kernel: bool = True,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-table random-hyperplane
    buckets -> per-bucket self-join for candidate id pairs (hot-bucket
    capped, like dedup.lsh_candidate_pairs) -> join vectors back -> exact
    quantized-cosine re-rank >= threshold.

    `bits` (bucket granularity per table) defaults ADAPTIVE:
    ceil(log2(N / target_bucket)), clamped to `bits_range` — the
    per-table bucket COUNT must scale with N or the bucket self-join
    quietly reverts to quadratic: at fixed 4 bits / 16 buckets, 20k
    vectors already produce ~10^8 candidate pairs (measured, round 10).
    With a constant target bucket population B, candidates ~=
    n_tables * N * B/2 — LINEAR in N. Sizing costs one cheap count() at
    plan time (the loud-guard convention); pass `bits` explicitly to pin
    it (a 100 TB pipeline knows its N) — explicit bits skips the count
    and the bucket-overflow guard.

    `n_tables` defaults ADAPTIVE too (_auto_tables): per-table collision
    for a pair at cosine t is (1 - acos(t)/pi)^bits, which DECAYS as
    adaptive bits grow with N — fixed 8 tables hold recall ~0.98 at 9
    bits but only ~0.64 at 20 (the round-10 ADVICE finding). The table
    count is sized to hold `recall_target` at `threshold`, capped at
    `max_tables` (=64: recall holds to 27 bits / N ~= 8.6e9 at
    target_bucket=64; hitting the cap emits a RuntimeWarning naming the
    projected recall and the knobs — round-12, see _auto_tables). Valid-N per bits and the overflow guard:
    _adaptive_bits / _check_bucket_overflow — when N/2^bits would exceed
    `max_bucket_size` (clamp hit, N >~ 2.9e14 at defaults) the function
    RAISES LshBucketOverflowError instead of silently dropping every
    bucket and returning zero pairs.

    Candidate generation shuffles O(N * n_tables) id rows — never the
    raw vectors, which travel only for colliding pairs via the two
    join-backs after the distinct. `max_bucket_size` bounds the
    degenerate bucket (zero vectors, constant embeddings) exactly like
    the text-LSH cap. Returned pairs are SOUND by construction — the
    re-rank recomputes the exact quantized metric, so the output is
    always a subset of exact_neardup_pairs; recall vs the exact baseline
    is pytest-bounded at the adaptive operating points."""
    from pyspark.sql import Window as W

    if bits is None:
        n = df.count()
        bits = _adaptive_bits(n, target_bucket, bits_range)
        _check_bucket_overflow(
            n,
            bits,
            max_bucket_size,
            f"bits_range={bits_range}, target_bucket={target_bucket}",
        )
    if n_tables is None:
        n_tables = _auto_tables(bits, threshold, recall_target, max_tables)
    # NO fan_out (round-15, measured 1.28-1.78x WORSE at sf0.1/sf1):
    # the sketch kernel is vectorized numpy, and df feeds THREE
    # derivations (banded + both join-backs) — the added exchange is
    # paid per derivation while the serial kernel it parallelizes is
    # already cheap.
    sk = (
        _table_sketches_kernel(dim, n_tables, bits)
        if kernel
        else lambda col: _table_sketches(col, dim, n_tables, bits)
    )
    banded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(sk(F.col(vec_col))).alias("__bucket"),
    )
    if max_bucket_size is not None:
        # Window cap is DELIBERATE here (unlike ann_candidate_pairs,
        # round-12): the bucket SELF-join below requires a by-bucket
        # exchange anyway, so the window rides a shuffle the join needs
        # (Spark reuses the exchange across both join sides); a
        # groupBy+anti-join cap would instead evaluate the sketch kernel
        # twice over the corpus. Degenerate buckets spill inside
        # WindowExec rather than OOM, and the overflow guard above
        # refuses the regime where the cap would drop every bucket.
        w = W.partitionBy("__bucket")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    # quantized arrays + norms precomputed once per vector in the
    # join-back projections; each candidate pair then runs a single long
    # fold (round-15; bit-identical to cosine_exact — same operator tree)
    va = df.withColumn("__q", quantized_vec(F.col(vec_col))).select(
        F.col(id_col).alias("id_a"),
        F.col("__q").alias("__va"),
        norm_quantized(F.col("__q")).alias("__na"),
    )
    vb = df.withColumn("__q", quantized_vec(F.col(vec_col))).select(
        F.col(id_col).alias("id_b"),
        F.col("__q").alias("__vb"),
        norm_quantized(F.col("__q")).alias("__nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot_quantized(F.col("__va"), F.col("__vb")).cast("double")
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
