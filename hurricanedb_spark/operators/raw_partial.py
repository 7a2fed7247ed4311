"""Two-phase (partial -> merge) builders for the raw mergeable
digests/sketches.

The reference's aggregation contract is partial/combine/final
(pinot-core/.../query/aggregation/function/AggregationFunction.java:42-130:
per-segment `aggregate`, server-side merge of intermediate results,
broker `extractFinalResult`), so a hot group's raw values never
concentrate on one node — each segment builds a bounded digest and only
digests move. A single-phase pandas GROUPED_AGG UDF inverts that: Spark
ships the group's ENTIRE raw value set through one Arrow batch to one
Python worker before the bounded digest is built. Bounded output,
unbounded intermediate — the one remaining scale-wrong shape after
round 9.

This module is the Spark-native partial/combine formulation:

  phase 1  mapInArrow over the source partitions — one bounded digest
           per (Arrow batch x group), built where the data sits; no
           repartition, no raw-value shuffle. State per task is
           O(groups-in-batch x digest-size). Arrow batches carry the
           TRUE column types (int64 + validity bitmap), so null-bearing
           BIGINT values and group keys stay exact past 2^53 — the
           mapInPandas float64 degrade (and the rounds-13/14
           CAST-AS-STRING channel that worked around it) is gone.
  phase 2  groupBy(keys).applyInPandas — merges the serialized partials
           (O(batches-containing-key) blobs per key, each digest-sized).

The only Exchange in the executed plan carries partial digest blobs,
never raw values (asserted by tests/test_raw_partial.py's 10M-row
hot-group plan test).

Determinism vs the single-phase builders:
  - qdigest: identical bytes — the exact-regime QuantileDigest is built
    from value counts, and merging partials sums the same counts before
    the same trie build (operators/percentile_digest.py).
  - theta: identical bytes — union of partials keeps the same k smallest
    distinct hash values as a direct build, and compact-ordered
    serialization is canonical (operators/theta_ds.py).
  - tdigest: same accuracy class, not byte-identical — centroid
    formation depends on merge order, exactly as in the reference's
    tdunning implementation.
  - hll (clearspring registers): identical bytes — registers merge by
    elementwise max, which commutes.

The SQL surface routes the restructurable shapes here: the raw-digest
family of sql/dialect.py's bounded restructures (`_raw_build`) feeds
this function `SELECT <keys>, <values> FROM <source>` for any FROM
shape (a table, aliased or not, a subquery, a CTE, a join, with
qualified outer refs stripped or projected), so partials stream over
the join output. This includes the FILTERED set-op raw theta form,
whose CASE-filtered per-filter sketches become one spec each and whose
set expression folds over the merged sketches (byte-identical to the
single-phase emission, since union of partials keeps the same k
smallest distinct hashes — the accumulator carries the implied theta
through QuickSelect trims, so identity holds at ANY per-partition NDV).
Set operations and SELECT DISTINCT keep the single-phase grouped-agg
fallback with its documented bound.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass(frozen=True)
class DigestSpec:
    """One digest column to build: `value_col` (already cast to the
    digest's input domain by the caller) -> serialized digest `alias`."""

    alias: str
    value_col: str
    kind: str  # qdigest | tdigest | theta | hll | idset
    k: int = 4096  # theta nominalEntries / hll log2m; unused otherwise
    extra: str = ""  # idset: the params string
    #   'sizeThresholdInBytes=..;expectedInsertions=..;fpp=..' (defaults
    #   when empty — IdSets.java:33-36)


def empty_state(kind: str, k: int = 4096) -> bytes:
    """The serialized digest of zero values — what the single-phase
    grouped-agg returns for an all-NULL (or empty global) group. The SQL
    rewrite embeds it as a binary literal so the restructured global
    shape matches on empty input."""
    if kind == "qdigest":
        from hurricanedb_spark.operators.percentile_digest import build_qdigest

        return build_qdigest([])
    if kind == "tdigest":
        from hurricanedb_spark.operators.tdigest import build_tdigest

        return build_tdigest([])
    if kind == "theta":
        from hurricanedb_spark.operators.theta_ds import (
            DEFAULT_SEED,
            compute_seed_hash,
            from_hashes,
            serialize,
        )

        return serialize(from_hashes((), k, compute_seed_hash(DEFAULT_SEED)))
    if kind == "hll":
        from hurricanedb_spark.operators.clearspring_hll import ClearspringHLL

        return ClearspringHLL(k).serialize()
    if kind == "idset":
        # IdSets.emptyIdSet().toBytes() — the single type tag byte
        return b"\x00"
    raise ValueError(f"unknown digest kind {kind!r}")


def _make_acc_factory(spec: DigestSpec, spark_type: str):
    """-> zero-arg factory of per-(partition, group) accumulators with
    `update(pandas Series)` and `emit() -> bytes`. Accumulating across
    the partition's whole batch iterator (instead of serializing one
    digest per Arrow batch) keeps the partial phase at one cheap
    per-batch fold + ONE digest build per partition x group — this is
    what makes the two-phase plan FASTER than the single-phase grouped
    agg on wall-clock, not just bounded-memory."""
    import numpy as np

    if spec.kind == "qdigest":
        from hurricanedb_spark.operators.percentile_digest import (
            build_qdigest_from_counts,
        )

        class _QAcc:
            __slots__ = ("counts",)

            def __init__(self):
                self.counts: dict[int, float] = {}

            def update(self, v):
                arr = v.dropna().astype("int64").to_numpy()
                if arr.size == 0:
                    return
                vals, cnts = np.unique(arr, return_counts=True)
                counts = self.counts
                for val, c in zip(vals.tolist(), cnts.tolist()):
                    counts[val] = counts.get(val, 0.0) + c

            def emit(self) -> bytes:
                return build_qdigest_from_counts(self.counts)

        return _QAcc
    if spec.kind == "tdigest":
        import math

        from hurricanedb_spark.operators.tdigest import (
            DEFAULT_COMPRESSION,
            _merge_points,
            serialize_centroids,
        )

        class _TAcc:
            __slots__ = ("centroids", "lo", "hi")

            def __init__(self):
                self.centroids: list[tuple[float, float]] = []
                self.lo, self.hi = math.inf, -math.inf

            def update(self, v):
                arr = v.dropna().astype("float64").to_numpy()
                if arr.size == 0:
                    return
                self.lo = min(self.lo, float(arr.min()))
                self.hi = max(self.hi, float(arr.max()))
                pts = self.centroids + [(x, 1.0) for x in arr.tolist()]
                pts.sort()
                # one k1 merge pass per batch keeps state <= ~2C centroids
                self.centroids = _merge_points(pts, DEFAULT_COMPRESSION)

            def emit(self) -> bytes:
                return serialize_centroids(
                    self.lo, self.hi, DEFAULT_COMPRESSION, self.centroids
                )

        return _TAcc
    if spec.kind == "theta":
        from hurricanedb_spark.operators.theta_ds import (
            _SPARK_TO_HASH_DTYPE,
            DEFAULT_SEED,
            MAX_THETA,
            compute_seed_hash,
            from_hashes,
            hash_column_np,
            serialize,
        )

        # hash space is pinned to the SPARK column type read from the
        # DataFrame schema — immune to the NULL-bearing-batch int64 ->
        # float64 Arrow degradation (the r9 typeof() defect class)
        dtype = _SPARK_TO_HASH_DTYPE.get(spark_type)
        if dtype is None:
            raise ValueError(
                f"distinctCountRawThetaSketch: unsupported column type "
                f"{spark_type} (sketchable: int/long/float/double/string)"
            )
        seed_hash = compute_seed_hash(DEFAULT_SEED)
        k = spec.k

        class _ThAcc:
            # QuickSelect-compaction state, same contract as from_hashes:
            # `hashes` holds admitted values < `theta`; when the working
            # set crosses 8k, theta drops to the (k+1)-th smallest and the
            # k below it are retained. Later arrivals >= theta are
            # REJECTED — without that (and without carrying theta into
            # emit()) a trim on the partition's last batch produced an
            # "exact mode" sketch whose estimate is k (up to 8x
            # undercount), and re-admitted above-threshold hashes broke
            # the asserted byte-identity with the single-phase build.
            __slots__ = ("hashes", "theta")

            def __init__(self):
                self.hashes: set[int] = set()
                self.theta = MAX_THETA

            def update(self, v):
                hs = hash_column_np(v, dtype)
                theta = self.theta
                if theta == MAX_THETA:
                    self.hashes.update(int(h) for h in hs if h)
                else:
                    self.hashes.update(int(h) for h in hs if 0 < h < theta)
                if len(self.hashes) > 8 * k:
                    ordered = sorted(self.hashes)
                    self.theta = ordered[k]
                    self.hashes = set(ordered[:k])

            def emit(self) -> bytes:
                return serialize(
                    from_hashes(self.hashes, k, seed_hash, self.theta)
                )

        return _ThAcc
    if spec.kind == "hll":
        from hurricanedb_spark.operators.clearspring_hll import (
            ClearspringHLL,
            offer_series,
        )

        log2m = spec.k

        class _HAcc:
            __slots__ = ("hll",)

            def __init__(self):
                self.hll = ClearspringHLL(log2m)

            def update(self, v):
                # dropna: nullable Int64 batches (mapInArrow) iterate
                # pd.NA for nulls, which offer_series's None/NaN checks
                # don't cover; semantics unchanged (nulls never offered)
                offer_series(self.hll, v.dropna(), spark_type)

            def emit(self) -> bytes:
                return self.hll.serialize()

        return _HAcc
    if spec.kind == "idset":
        from hurricanedb_spark.operators.idset_wire import (
            IdSetAccumulator,
            spark_type_to_pinot,
        )

        dtype = spark_type_to_pinot(spark_type)
        if not dtype:
            raise ValueError(f"idset over unsupported type {spark_type!r}")
        th, ins, fpp = _idset_params(spec.extra)

        class _IdAcc:
            """Partial IdSet: the reference's own partial state
            (IdSetAggregationFunction aggregates into an IdSet per
            group). IdSetAccumulator applies the threshold->bloom
            conversion INCREMENTALLY (round-13 verdict #6), so the
            per-partition state is bounded even before emit; bloom
            bit-OR and roaring union are order-insensitive, so
            partial->merge stays byte-identical to a single-pass
            build."""

            __slots__ = ("acc",)

            def __init__(self):
                self.acc = IdSetAccumulator(
                    dtype,
                    size_threshold_in_bytes=th,
                    expected_insertions=ins,
                    fpp=fpp,
                )

            def update(self, v):
                # LONG arrives as nullable Int64 (mapInArrow keeps the
                # exact int64 + NA mask — no float64 degrade); INT may
                # still degrade to float64 under nulls, which is exact
                # for 32-bit values — astype normalizes both to int64
                vv = v.dropna()
                if dtype in ("INT", "LONG"):
                    vv = vv.astype("int64")
                self.acc.add(vv.to_numpy())

            def emit(self) -> bytes:
                return self.acc.emit()

        return _IdAcc
    raise ValueError(f"unknown digest kind {spec.kind!r}")


def _idset_params(extra: str) -> tuple[int, int, float]:
    from hurricanedb_spark.operators.idset_wire import (
        DEFAULT_EXPECTED_INSERTIONS,
        DEFAULT_FPP,
        DEFAULT_SIZE_THRESHOLD,
    )

    th, ins, fpp = (
        DEFAULT_SIZE_THRESHOLD,
        DEFAULT_EXPECTED_INSERTIONS,
        DEFAULT_FPP,
    )
    for kv in (extra or "").split(";"):
        k, sep, v = kv.partition("=")
        if not sep:
            continue
        k = k.strip().lower()
        if k == "sizethresholdinbytes":
            th = int(v)
        elif k == "expectedinsertions":
            ins = int(v)
        elif k == "fpp":
            fpp = float(v)
    return th, ins, fpp


def _make_merger(spec: DigestSpec):
    """(iterable of partial digest bytes) -> merged digest bytes."""
    if spec.kind == "qdigest":
        from hurricanedb_spark.operators.percentile_digest import merge_qdigests

        return merge_qdigests
    if spec.kind == "tdigest":
        from hurricanedb_spark.operators.tdigest import merge_tdigests

        return merge_tdigests
    if spec.kind == "theta":
        from hurricanedb_spark.operators.theta_ds import (
            deserialize,
            serialize,
            union,
        )

        def merge_theta(blobs):
            return serialize(union([deserialize(b) for b in blobs], spec.k))

        return merge_theta
    if spec.kind == "hll":
        from hurricanedb_spark.operators.clearspring_hll import merge_hlls

        return merge_hlls
    if spec.kind == "idset":
        from hurricanedb_spark.operators.idset_wire import (
            merge_idset_blobs_many,
        )

        th, ins, fpp = _idset_params(spec.extra)

        def merge_idsets(blobs):
            # n-way union: ONE encode for all-exact partials instead of
            # a re-encode per pairwise fold (round-14 merge-stage fix)
            return merge_idset_blobs_many(list(blobs), th, ins, fpp)

        return merge_idsets
    raise ValueError(f"unknown digest kind {spec.kind!r}")


def digests_by_group(
    df: DataFrame, group_cols: list[str], specs: list[DigestSpec]
) -> DataFrame:
    """One row per group with a serialized-digest binary column per spec,
    built partial -> merge in a single pass over `df`. Empty `group_cols`
    = global aggregate (returns one row, or zero rows on empty input —
    the SQL rewrite coalesces to `empty_state`).

    Float/double group keys (round-12): Arrow delivers NULL floats as
    NaN inside the partial phase, so a genuine-NaN key would silently
    merge into the NULL group. A boolean is-NaN marker column (false for
    NULL — Spark's IsNaN is null-intolerant) rides along as an extra
    grouping key through partials + merge, and the true NaN key value is
    restored afterwards; Spark's own semantics (NaN = NaN in grouping,
    `<=>`, joins) make the restored key group and join correctly."""
    import pandas as pd

    dummy = not group_cols
    if dummy:
        df = df.withColumn("_g_all", F.lit(0))
        group_cols = ["_g_all"]
    dtypes = dict(df.dtypes)
    factories = [
        _make_acc_factory(s, dtypes[s.value_col]) for s in specs
    ]
    mergers = {s.alias: _make_merger(s) for s in specs}
    markers = {
        c: f"__nan_{c}"
        for c in group_cols
        if dtypes[c] in ("float", "double")
    }
    key_cols = [*group_cols, *markers.values()]
    src = df.select(
        *group_cols,
        *(F.isnan(F.col(c)).alias(m) for c, m in markers.items()),
        *(F.col(s.value_col).alias(s.alias) for s in specs),
    )
    fields = ", ".join(
        f"`{c}` {src.schema[c].dataType.simpleString()}" for c in key_cols
    )
    out_schema = fields + "".join(f", `{s.alias}` binary" for s in specs)
    aliases = [s.alias for s in specs]

    def partials(batches):
        # mapInArrow (round-15): the batch is a pa.RecordBatch whose
        # column types ARE the Spark types — converting int64 columns
        # to pandas NULLABLE Int64 keeps null-bearing BIGINT values
        # (AND group keys) exact, where mapInPandas degraded them to
        # float64 and silently rounded past 2^53. This replaces the
        # rounds-13/14 CAST-AS-STRING lossless channel: no per-row JVM
        # cast, no doubled Arrow transfer, no per-value string parse.
        # Accumulation is across the partition's whole batch stream:
        # one bounded accumulator per (group x spec), ONE serialized
        # digest per partition x group at the end — the shuffle carries
        # O(partitions x groups) blobs regardless of row count.
        import pyarrow as pa

        out_fields = None
        accs: dict[tuple, list] = {}
        for batch in batches:
            if out_fields is None:
                out_fields = pa.schema(
                    [batch.schema.field(c) for c in key_cols]
                    + [pa.field(a, pa.binary()) for a in aliases]
                )
            if batch.num_rows == 0:
                continue
            # nullable Int64 only when the batch actually carries nulls
            # — a null-free batch (the common case) converts straight
            # to plain int64 numpy, the cheapest path for the
            # accumulators' astype/groupby work
            mapper = (
                {pa.int64(): pd.Int64Dtype()}.get
                if any(
                    batch.column(i).null_count
                    for i in range(batch.num_columns)
                )
                else None
            )
            pdf = batch.to_pandas(types_mapper=mapper)
            for key, grp in pdf.groupby(key_cols, dropna=False, sort=False):
                key = key if isinstance(key, tuple) else (key,)
                # NaN keys must hash identically across batches (the
                # is-NaN marker keeps NULL and NaN float keys distinct)
                key = tuple(None if pd.isna(x) else x for x in key)
                row = accs.get(key)
                if row is None:
                    row = accs[key] = [f() for f in factories]
                for acc, a in zip(row, aliases):
                    acc.update(grp[a])
        if accs:
            # build the batch from pa.array with EXPLICIT field types —
            # a pandas constructor would re-infer a [int, None] key
            # column as float64, re-introducing the exact rounding this
            # conversion exists to kill
            rows = [
                (*k, *(acc.emit() for acc in row))
                for k, row in accs.items()
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[i] for r in rows], type=f.type)
                    for i, f in enumerate(out_fields)
                ],
                schema=out_fields,
            )

    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        merged = {
            a: [mergers[a]([bytes(b) for b in pdf[a]])] for a in aliases
        }
        return pdf.iloc[:1].assign(**merged)[[*key_cols, *aliases]]

    out = (
        src.mapInArrow(partials, schema=out_schema)
        .groupBy(*key_cols)
        .applyInPandas(merge, schema=out_schema)
    )
    if markers:
        out = out.select(
            *(
                (
                    F.when(
                        F.col(markers[c]),
                        F.lit(float("nan")).cast(dtypes[c]),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in markers
                    else F.col(c)
                )
                for c in group_cols
            ),
            *(F.col(a) for a in aliases),
        )
    return out.drop("_g_all") if dummy else out
