"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious:

  exact        — hash-groupBy on a normalized fingerprint: one shuffle on
                 the hash, combiner-side partial aggregation.
  minhash-LSH  — shingle -> K minhashes -> B bands -> bucket self-join:
                 candidate generation never compares all pairs; the only
                 shuffle is on (band, bucket-hash), and verification runs
                 per-candidate-pair. This is the 100 TB-safe path: cost is
                 O(docs * K + candidates), not O(docs^2).
  simhash      — 32-bit sign-of-weighted-bits signature; near-dups have
                 small Hamming distance; bucket by 4x8-bit blocks (any pair
                 within distance 3 shares >= one exact block).
  ngram-jaccard— exact verification metric (also standalone for small sets).
  embedding    — cosine near-dup over the embeddings table (see
                 similarity.py for the ANN machinery).

Hashing: the scale path uses Spark's native xxhash64 (JVM, codegen).
For oracle-comparable results there is a portable md5-derived 32-bit hash
(`portable_hash32`) computable identically in DuckDB SQL — slower, used
only in correctness queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Knuth-style multiplicative constants for the K minhash permutations
# (h_i(x) = (a_i * x + b_i) mod P). P is a Mersenne prime 2^31-1.
MINHASH_P = 2147483647


def perm_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs — fixed constants, no RNG at runtime."""
    return [((2654435761 * (i + 1)) % MINHASH_P or 1, (40503 * (i + 7)) % MINHASH_P) for i in range(k)]


def portable_hash32(col: Column) -> Column:
    """32-bit hash = first 8 hex chars of md5 as an integer. Bit-identical
    in DuckDB (oracle_hash32_sql parses the same hex digit-by-digit —
    DuckDB has no conv(); Spark uses one conv() call, verified equal) —
    used by the oracle-checked dedup queries. Scale path: xxhash64."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def oracle_hash32_sql(expr: str) -> str:
    """DuckDB SQL mirroring portable_hash32 exactly."""
    terms = [
        f"(instr('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def norm_tokens(text: Column) -> Column:
    """Normalized word tokens: lowercase, whitespace-collapsed, empties
    dropped — the shared tokenization of the shingle/simhash family."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.filter(F.split(norm, " "), lambda t: t != "")


def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles over a token-array column.

    PASS A MATERIALIZED COLUMN REF (`.withColumn("__toks", norm_tokens(
    text))` first, then `F.col("__toks")`), never the inline
    `norm_tokens(...)` expression: the lambda below captures `toks`, and
    Catalyst re-evaluates a captured non-attribute expression FOR EVERY
    ARRAY ELEMENT — the full regexp/split/filter pipeline ran once per
    shingle, which round-15 measured as 3.8s vs 0.5s for the 256k-shingle
    documents scan at sf0.1 (7.5x). A bound attribute ref is free."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(grams)


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Convenience composition for small inputs/tests; hot paths should use
    the two-step `norm_tokens` + `shingles_from_tokens` idiom (see the
    capture-cost note there)."""
    return shingles_from_tokens(norm_tokens(text), n)


def hashed_shingles(shingles: Column, portable: bool = True) -> Column:
    """Distinct int-hashed shingle set (array<long>).

    Hashing once and carrying ints instead of gram strings pays twice at
    scale: the K permutation expressions each reuse the SAME hash array
    (one md5/xxhash pass total, not K), and the exact-jaccard verify
    join shuffles ~4-10x fewer bytes per candidate pair. Jaccard over the
    hashed sets equals jaccard over the grams modulo hash collisions —
    and the DuckDB oracle applies the identical hash (oracle_hash32_sql),
    so the comparison stays bit-exact."""
    base = portable_hash32 if portable else lambda c: F.abs(F.xxhash64(c)) % MINHASH_P
    return F.array_distinct(F.transform(shingles, base))


def minhash_from_hashed(hashed: Column, k: int = 8) -> Column:
    """Array of K minhash values over a pre-hashed shingle set."""
    sigs = []
    for a, b in perm_params(k):
        sigs.append(
            F.array_min(
                F.transform(
                    hashed, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)
                )
            )
        )
    return F.array(*sigs)


def minhash_signature(shingles: Column, k: int = 8, portable: bool = True) -> Column:
    """Array of K minhash values over the shingle set.

    portable=True -> md5-derived base hash (oracle-comparable);
    portable=False -> xxhash64 (fast JVM path for production scale).
    """
    return minhash_from_hashed(hashed_shingles(shingles, portable), k)


def _banded(df: DataFrame, id_col: str, sig_col: str, bands: int, rows_per_band: int) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(F.col(sig_col), b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Band the signature and self-join on (band, band-slice) buckets.
    Returns candidate (id_a < id_b) pairs, distinct.

    max_bucket_size caps the self-join per (band, bucket): one degenerate
    bucket (empty docs, boilerplate) otherwise produces O(b²) pairs — at
    100 TB a single hot bucket becomes the whole job. Buckets above the
    cap are dropped from candidate generation (their members are almost
    always mutual near-dups of one template; exact dedup catches the
    identical ones, and `lsh_dropped_buckets` reports what was skipped so
    the drop is observable, never silent). None disables the cap.
    """
    banded = _banded(df, id_col, sig_col, bands, rows_per_band)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        # one count per (band, bucket) — same partitioning the self-join
        # needs, so this adds no extra exchange before the join
        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_dropped_buckets(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int = 512,
) -> DataFrame:
    """(band, bucket, size) rows for buckets over the cap — the audit
    companion to lsh_candidate_pairs(max_bucket_size=...)."""
    return (
        _banded(df, id_col, sig_col, bands, rows_per_band)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, in double.

    One hash-set pass per pair: |A∪B| is derived as |A| + |B| − |A∩B|
    (exact for distinct-element arrays — the stated input contract),
    so the per-pair cost is a single array_intersect instead of
    intersect + union, each of which builds its own hash set over both
    arrays. The division operands are the same integers either way, so
    the emitted double is bit-identical (pinned by
    test_jaccard_sizes_equals_union_form)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


class QuadraticBlockError(ValueError):
    """Raised when the exact pairwise-Jaccard baseline would run a
    quadratic join over a block larger than the configured cap."""


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    shingles: Column,
    threshold: float = 0.3,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Exact blocked-quadratic Jaccard: all pairs within a block whose
    shingle-set Jaccard >= threshold. This is the EXACT BASELINE / verify
    metric — cost is O(sum over blocks of n_b^2). The guard below refuses
    any block past `max_block_rows` (default 100k rows = 5e9 candidate
    pairs per block before the size prefilter) so the baseline cannot be
    launched accidentally against production-scale data; minhash-LSH
    (`lsh_candidate_pairs`, O(docs*K + candidates)) is the scale path.
    The pre-check is one cheap count-per-block aggregation; only offending
    blocks ever reach the driver."""
    from hurricanedb_spark.operators.skew import fan_out

    # fan_out BEFORE the shingle projection: a single-row-group input
    # scans as one task, and the pair loop of the broadcast join fuses
    # onto that scan stage — the whole quadratic stage ran on one core
    # (round-15, guide §2.5/§2.6). At scale the input has >= cores
    # splits and fan_out is the identity.
    sh = fan_out(df).select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        shingles.alias("__sh"),
    )
    hot = (
        sh.groupBy("__blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_block_rows)
        .orderBy(F.desc("n"))
        .limit(5)
        .collect()
    )
    if hot:
        worst = ", ".join(f"{r['__blk']}={r['n']}" for r in hot)
        raise QuadraticBlockError(
            f"ngram_jaccard_pairs: block(s) exceed max_block_rows="
            f"{max_block_rows} ({worst}); this exact baseline is O(pairs) "
            f"per block — use minhash-LSH (lsh_candidate_pairs / "
            f"minhash_lsh_dedup) as the scale path, or raise "
            f"max_block_rows deliberately."
        )
    left = sh.select(
        F.col("__id").alias("id_a"),
        F.col("__blk").alias("src_a"),
        F.col("__sh").alias("sh_a"),
    )
    right = sh.select(
        F.col("__id").alias("id_b"),
        F.col("__blk").alias("src_b"),
        F.col("__sh").alias("sh_b"),
    )
    # size prefilter: jaccard(A,B) >= t forces t*|A| <= |B| and
    # t*|B| <= |A|; the cheap integer bound prunes inside the join before
    # any array intersect runs. Superset pruning — results unchanged.
    #
    # The jaccard threshold is part of the authored join condition, LAST
    # in the conjunction: left as a post-join .filter(), Catalyst pushes
    # it into the join condition PREPENDED, and And() evaluates left to
    # right — the intersect ran for every src-matched pair before the
    # cheap id/size conjuncts could prune it (round-15, observed in the
    # before plan). Authoring the whole condition pins the cheap-first
    # order; the select recomputes jaccard only for surviving pairs.
    pair_jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return left.join(
        right,
        (F.col("src_a") == F.col("src_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.size("sh_a").cast("double") * threshold <= F.size("sh_b"))
        & (F.size("sh_b").cast("double") * threshold <= F.size("sh_a"))
        & (pair_jac >= threshold),
    ).select("id_a", "id_b", pair_jac.alias("jaccard"))


def hashed_tokens(text: Column, portable: bool = True) -> Column:
    """Int-hashed normalized word tokens (the SimHash input array)."""
    base = portable_hash32 if portable else lambda c: F.abs(F.xxhash64(c)) % (2**32)
    return F.transform(norm_tokens(text), base)


def simhash_from_hashed(hashed: Column) -> Column:
    """32-bit SimHash over a hashed-token array column: bit b of the
    signature is the sign of sum over tokens of (+1 if bit b else -1).

    Prefer a materialized column ref for `hashed`: the 32 per-bit folds
    each take it as input. In practice codegen's subexpression
    elimination already dedupes the repeated inline expression across the
    folds (round-15 measured only 0.96s -> 0.84s from materializing), so
    this is hygiene, unlike the per-element capture in
    `shingles_from_tokens`, which CSE cannot fix."""
    sig = F.lit(0).cast("long")
    for b in range(32):
        bit_sum = F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.floor(h / (2**b)) % 2 == 1, 1).otherwise(-1),
        )
        sig = sig + F.when(bit_sum > 0, F.lit(2**b).cast("long")).otherwise(0)
    return sig


def simhash32(text: Column, portable: bool = True) -> Column:
    """32-bit SimHash over word tokens (convenience composition — hot
    paths materialize `hashed_tokens` first; see simhash_from_hashed)."""
    return simhash_from_hashed(hashed_tokens(text, portable))


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame,
    node_col: str,
    max_iter: int = 25,
    include_singletons: bool = True,
) -> DataFrame:
    """Connected components over a similarity-pair graph — the standard
    post-LSH clustering step (all transitively-linked near-dups collapse
    to one component; keep min-id per component as the survivor).

    Min-label propagation with pointer jumping: every node starts labeled
    with itself; each round a node takes the min of its own label, its
    neighbors' labels (edge hop), and ITS LABEL'S label (pointer jump —
    label chains halve, so a diameter-d path converges in O(log d) rounds
    rather than O(d); same idea as large-star). Each round is two shuffle
    joins + an aggregation, driven by EXACTLY ONE action: the early-stop
    count materializes the round's lazy localCheckpoint as a side effect
    (lineage truncated, plans stay flat at 100 TB) instead of running a
    separate eager-checkpoint job first.

    The iterated label table holds ONLY nodes that touch an edge: an
    isolated node has no neighbor and its pointer jump resolves to
    itself, so its label can never change — carrying it through every
    round shuffled the whole corpus per round when only the near-dup
    subgraph (typically a few % of nodes) can move. Singletons are
    unioned back (component = own id) after convergence, one anti-join
    instead of rounds x full-table joins. Edge endpoints absent from
    `nodes` stay excluded from propagation and output, exactly as
    before (the semi join below mirrors the old init-from-`nodes`).

    `include_singletons=False` returns only the edge-subgraph rows —
    for consumers that only need the NON-trivial assignments (e.g. the
    dedup loser set, which is a subset of edge nodes by construction)
    and would otherwise force the singleton anti-join just to filter
    its rows straight back out.

    `node_col` must be unique in `nodes`: a duplicated id that touches
    an edge comes out once, a duplicated singleton once per copy.

    Returns (node_col, component) where component = min node id reachable.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).cache()
    node_ids = nodes.select(F.col(node_col).alias("a"))
    active = und.select("a").distinct().join(node_ids, "a", "semi")
    labels = active.select("a", F.col("a").alias("label")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            und.join(
                labels.select(F.col("a").alias("b"), F.col("label").alias("nl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nbr_label"))
        )
        # carry the round's starting label through as __old so the
        # early-stop check below is a filter over the checkpointed rows —
        # the previous labels-vs-new-labels join added a full extra
        # shuffle join per round (round-15, guide §2.4)
        hop = labels.join(nbr, "a", "left").select(
            "a",
            F.col("label").alias("__old"),
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jump: label <- label(label); halves label-chain depth.
        # localCheckpoint(eager=False): the checkpoint materializes
        # inside the early-stop count's job below — one action per round
        # does BOTH the lineage truncation and the changed-count
        # (round-16, r15 verdict #3: the eager checkpoint was a separate
        # full job per round, so every round paid two passes)
        new_labels = (
            hop.join(
                hop.select(
                    F.col("a").alias("label"), F.col("label").alias("ll")
                ),
                "label",
                "left",
            )
            .select(
                "a",
                "__old",
                F.least("label", F.coalesce("ll", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        labels = new_labels.select("a", "label")
        if changed == 0:
            break
    und.unpersist()
    comp = labels.select(
        F.col("a").alias(node_col), F.col("label").alias("component")
    )
    if not include_singletons:
        return comp
    singles = node_ids.join(labels.select("a"), "a", "left_anti").select(
        F.col("a").alias(node_col), F.col("a").alias("component")
    )
    return comp.unionByName(singles)


def exact_dedup(df: DataFrame, id_col: str, fingerprint_col: Column) -> DataFrame:
    """Exact dedup: keep the smallest id per fingerprint; emit survivors with
    duplicate counts. One shuffle on the fingerprint hash."""
    return (
        df.select(F.col(id_col), fingerprint_col.alias("__fp"))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__fp")
    )
