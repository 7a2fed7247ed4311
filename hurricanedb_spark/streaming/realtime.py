"""Realtime ingestion — the reference's REALTIME table semantics re-expressed
as Structured Streaming (SURVEY.md §2.10).

Reference model: per-partition stream consumers append to an in-memory
mutable segment that is immediately queryable; segments seal and commit at
thresholds (LLRealtimeSegmentDataManager.java:107-361,
MutableSegmentImpl.java:494-536); offsets checkpoint per segment; upsert and
dedup are keyed on the schema's primary key.

Spark mapping:
  stream source      -> readStream (kafka in prod; file/rate/memory in tests)
  mutable segment    -> micro-batch append to the realtime sink table
  segment commit     -> checkpointed exactly-once micro-batch (stronger)
  upsert/dedup       -> per-batch view maintenance via foreachBatch
  hybrid query       -> offline UNION ALL realtime with a time boundary

At scale the sink partitions by event time (hour/day) so the realtime ->
offline mover (`compact_realtime_to_offline`) is a partition-level rewrite,
exactly like the reference's RealtimeToOfflineSegmentsTask minion job.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa  # Arrow-native rollup UDAF batches (round-15)
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from hurricanedb_spark.operators.upsert import upsert_view


# ---------------------------------------------------------------------------
# Versioned state commits for foreachBatch sinks.
#
# foreachBatch is at-least-once: after a failure the same micro-batch
# (same epoch_id, same data) is replayed. A sink that merges
# non-idempotent state (INCREMENT/SUM/COUNT) must therefore (a) skip
# epochs it has already applied and (b) never corrupt the previous state
# if it crashes mid-write. The reference gets this from the segment-commit
# protocol (SegmentCommitter: atomic metadata swap keyed to stream
# offsets); here the analog is versioned parquet directories plus an
# atomically renamed meta file as the commit point:
#
#   {sink}.v{N}   full state after epoch E          (the one write)
#   {sink}.meta   {"version": N, "epoch": E,        (os.replace = commit)
#                  "schema": <state schema JSON>}
#   {sink}        relative symlink -> {sink}.v{N}   (os.replace = publish)
#
# A crash before the meta rename leaves the old version committed and the
# epoch unrecorded -> replay re-merges from the old version (correct). A
# crash after the rename leaves the epoch recorded -> replay skips the
# merge and just re-points the link. Readers of {sink} see a whole
# version at every instant; the version before the committed one is kept
# until the next commit, so a reader that opened {sink} just before a
# swap still finds its files. The protocol needs a local filesystem
# (symlinks, os.replace).
#
# `read_state` is the one reader of committed state, and it reads with
# the schema in .meta, which skips Spark's parquet schema-inference job.
# The merge reads {sink}.v{N} as .meta names it. A reader of the served
# {sink} (`catalog.tables.load_table`) gets the .meta schema only while
# the link names the version .meta records, and its frame is coalesced
# to one partition when Spark plans the scan as one split: the planner
# then sees SinglePartition, so an aggregate over a small served table
# runs in one job with no exchange. Anything else (a reader between the
# .meta rename and the link swap, a .meta from before the schema was
# recorded, a plain {sink} directory) is left to inference.
# ---------------------------------------------------------------------------


def read_state(
    spark: SparkSession, sink_dir: str, served: bool = False
) -> tuple[DataFrame | None, dict | None]:
    """Return (committed state, meta) of the versioned sink `sink_dir`:
    (None, None) before its first commit. The merge (served=False) reads
    the committed version. A served read reads `sink_dir` itself, and
    gets (None, meta) unless the link names the committed version and
    .meta holds its schema: the caller then infers the schema."""
    meta_path = sink_dir + ".meta"
    if not os.path.exists(meta_path):
        return None, None
    with open(meta_path) as f:
        meta = json.load(f)
    path = f"{sink_dir}.v{meta['version']}"
    if served:
        if "schema" not in meta or not os.path.islink(sink_dir) or (
            os.readlink(sink_dir) != os.path.basename(path)
        ):
            return None, meta
        path = sink_dir
    reader = spark.read
    if "schema" in meta:
        reader = reader.schema(StructType.fromJson(meta["schema"]))
    df = reader.parquet(path)
    # plans the scan's splits without running a job
    if served and df._jdf.rdd().getNumPartitions() == 1:
        df = df.coalesce(1)
    return df, meta


def _publish_state(sink_dir: str, version: int) -> None:
    """Point {sink} at {sink}.v{version} (idempotent). A {sink} directory
    left by the copy-based layout is removed on the first publish."""
    if os.path.isdir(sink_dir) and not os.path.islink(sink_dir):
        shutil.rmtree(sink_dir)
    tmp_link = sink_dir + ".link.tmp"
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(f"{os.path.basename(sink_dir)}.v{version}", tmp_link)
    os.replace(tmp_link, sink_dir)


def _drop_old_versions(sink_dir: str, version: int) -> None:
    """Remove every {sink}.v{K} but the committed version and the one
    before it, including versions torn or left behind by a crash."""
    parent, base = os.path.split(os.path.abspath(sink_dir))
    for entry in os.listdir(parent):
        k = entry[len(base) + 2:]
        if entry.startswith(base + ".v") and k.isdigit() and int(k) < version - 1:
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def _commit_state(
    sink_dir: str,
    result: DataFrame,
    epoch_id: int,
    prev_meta: dict | None,
) -> None:
    version = (prev_meta["version"] + 1) if prev_meta else 0
    result.write.mode("overwrite").parquet(f"{sink_dir}.v{version}")
    tmp_meta = sink_dir + ".meta.tmp"
    with open(tmp_meta, "w") as f:
        json.dump(
            {"version": version, "epoch": epoch_id, "schema": result.schema.jsonValue()},
            f,
        )
    os.replace(tmp_meta, sink_dir + ".meta")  # atomic commit point
    _publish_state(sink_dir, version)
    _drop_old_versions(sink_dir, version)


def _already_applied(meta: dict | None, epoch_id: int) -> bool:
    return meta is not None and epoch_id <= meta["epoch"]


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    max_files_per_trigger: int = 1,
):
    """File-based stream source (tests / backfill). Kafka is the production
    source: swap for readStream.format('kafka') with the same downstream
    pipeline — the sink/upsert logic is source-agnostic."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema,
    starting_offsets: str = "earliest",
):
    """Kafka stream source — the production ingest path (reference:
    pinot-plugins/pinot-stream-ingestion/pinot-kafka-2.0). The swap from
    the file source is literally the format string: the downstream
    pipeline (sinks, upsert, dedup, ingestion-time aggregation) is
    source-agnostic. JSON payloads in `value` parse into `schema`, the
    same record shape read_event_stream yields. Requires the
    spark-sql-kafka connector on the classpath (absent in this container;
    tests/test_streaming.py gates on it)."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j")
    ).select("j.*")


def start_append_sink(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
    trigger: dict | None = None,
):
    """Append sink with checkpointing — the 'mutable segment' analog; rows
    are queryable as soon as a micro-batch commits. Default trigger is
    availableNow (drain-and-stop, used by tests/backfill); pass e.g.
    {"processingTime": "1 second"} for continuous sources (kafka/rate)."""
    w = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if partition_by:
        w = w.partitionBy(partition_by)
    return w.trigger(**(trigger or {"availableNow": True})).start()


def start_upsert_sink(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    pk: list[str],
    cmp_col: str,
    tiebreak: str,
):
    """Upsert materialization via foreachBatch: each micro-batch merges into
    the sink keeping the latest row per PK (overwrite-compact formulation;
    with Delta available this becomes MERGE INTO). The merge itself is
    idempotent (max_by over a union), but epochs are still tracked so a
    replayed batch skips the rewrite and state commits are crash-atomic."""
    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state, meta = read_state(spark, sink_dir)
        if _already_applied(meta, epoch_id):
            _publish_state(sink_dir, meta["version"])
            return
        merged = state.unionByName(batch_df) if state is not None else batch_df
        result = upsert_view(merged, pk, cmp_col, tiebreak)
        _commit_state(sink_dir, result, epoch_id, meta)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(stream_df: DataFrame, pk: list[str], watermark_col: str, delay: str):
    """Stream dedup with bounded state — dropDuplicates within the watermark
    (PartitionDedupMetadataManager analog; the watermark bounds state like
    Pinot's metadata TTL)."""
    return stream_df.withWatermark(watermark_col, delay).dropDuplicates(pk)


def windowed_counts(stream_df: DataFrame, ts_col: str, window: str, keys: list[str]):
    """Event-time tumbling-window aggregation with late-data handling —
    Spark-native superset of the reference's time-bucket group-by."""
    return (
        stream_df.withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(F.col(ts_col), window), *keys)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )


def hybrid_view(
    spark: SparkSession,
    offline_df: DataFrame,
    realtime_df: DataFrame,
    time_col: str,
    boundary,
) -> DataFrame:
    """Hybrid table: offline serves time <= boundary, realtime the rest
    (TimeBoundaryManager.java:56-91)."""
    return offline_df.filter(F.col(time_col) <= F.lit(boundary)).unionByName(
        realtime_df.filter(F.col(time_col) > F.lit(boundary))
    )


def compact_realtime_to_offline(
    spark: SparkSession, realtime_dir: str, offline_dir: str, time_col: str, boundary
) -> None:
    """Realtime->offline mover (RealtimeToOfflineSegmentsTask minion analog):
    batch job moving sealed data below the boundary into the offline table,
    partitioned by day for pruning."""
    rt = spark.read.parquet(realtime_dir)
    sealed = rt.filter(F.col(time_col) <= F.lit(boundary))
    (
        sealed.withColumn("__day", F.to_date(F.col(time_col)))
        .write.mode("append")
        .partitionBy("__day")
        .parquet(offline_dir)
    )


def _collapse_state_batch(
    batch: DataFrame,
    pk: list[str],
    cmp_col: str,
    strategies: dict[str, str],
    tiebreak: str | None,
) -> DataFrame:
    """Collapse a state-schema batch (MV columns already arrays) per PK.
    Scalar strategies match partial_upsert_view; APPEND/UNION flatten the
    per-row arrays instead of nesting them."""
    sort_key = F.struct(cmp_col, *([tiebreak] if tiebreak else []))
    aggs = []
    for col, strat in strategies.items():
        s = strat.upper()
        if s == "OVERWRITE":
            aggs.append(F.max_by(col, sort_key).alias(col))
        elif s == "IGNORE":
            aggs.append(F.min_by(col, sort_key).alias(col))
        elif s == "INCREMENT":
            aggs.append(F.sum(col).alias(col))
        elif s == "MAX":
            aggs.append(F.max(col).alias(col))
        elif s == "MIN":
            aggs.append(F.min(col).alias(col))
        elif s == "APPEND":
            aggs.append(
                F.flatten(
                    F.array_sort(
                        F.collect_list(
                            F.struct(sort_key.alias("k"), F.col(col).alias("v"))
                        )
                    ).getField("v")
                ).alias(col)
            )
        elif s == "UNION":
            aggs.append(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(col)))
                ).alias(col)
            )
        else:
            raise ValueError(f"unknown partial-upsert strategy: {strat}")
    aggs.append(F.max(cmp_col).alias(cmp_col))
    return batch.groupBy(*pk).agg(*aggs)


def merge_partial_state(
    state: DataFrame,
    batch: DataFrame,
    pk: list[str],
    cmp_col: str,
    strategies: dict[str, str],
    tiebreak: str | None = None,
    batch_schema: str = "raw",
) -> DataFrame:
    """One incremental partial-upsert step: merge a new batch into the
    accumulated per-PK state with the reference's pairwise column mergers
    (pinot-segment-local/.../upsert/merger/*.java — each merger combines
    (previousValue, newValue)). The batch is first collapsed per PK
    (partial_upsert_view), then merged against state with a full-outer
    join keyed on the PK — one shuffle, both sides hash-partitioned on
    the PK, so state scales by key cardinality not event volume."""
    if batch_schema == "state":
        # batch rows already carry state-typed columns (MV = array): the
        # within-batch collapse flattens instead of nesting
        batch_merged = _collapse_state_batch(batch, pk, cmp_col, strategies, tiebreak)
    else:
        # raw source rows (APPEND/UNION collect scalars into the MV column,
        # exactly the reference's scalar-row -> MV-column merger direction)
        from hurricanedb_spark.operators.upsert import partial_upsert_view

        batch_merged = partial_upsert_view(batch, pk, cmp_col, strategies, tiebreak)
    s, b = state.alias("s"), batch_merged.alias("b")
    joined = s.join(b, pk, "full_outer")
    out_cols = [F.col(k) for k in pk]
    scmp, bcmp = F.col(f"s.{cmp_col}"), F.col(f"b.{cmp_col}")
    for col, strat in strategies.items():
        sv, bv = F.col(f"s.{col}"), F.col(f"b.{col}")
        st = strat.upper()
        if st == "OVERWRITE":
            # Value at the LARGER comparison value wins: a late-arriving
            # batch (bcmp < scmp) must not overwrite newer state — the
            # reference drops records whose comparison value is below the
            # stored one (ConcurrentMapPartitionUpsertMetadataManager).
            # When either side's row is absent its cmp is NULL, the
            # comparison is NULL, and the otherwise-branch coalesce picks
            # whichever side exists.
            expr = F.when(bcmp >= scmp, F.coalesce(bv, sv)).otherwise(
                F.coalesce(sv, bv)
            )
        elif st == "IGNORE":
            # Mirror: value at the SMALLER comparison value wins (first
            # record by cmp order), matching the in-batch min_by collapse
            # so incremental merge == full recompute.
            expr = F.when(bcmp >= scmp, F.coalesce(sv, bv)).otherwise(
                F.coalesce(bv, sv)
            )
        elif st == "INCREMENT":
            expr = (
                F.when(sv.isNull(), bv).when(bv.isNull(), sv).otherwise(sv + bv)
            )
        elif st == "MAX":
            expr = (
                F.when(sv.isNull(), bv)
                .when(bv.isNull(), sv)
                .otherwise(F.greatest(sv, bv))
            )
        elif st == "MIN":
            expr = (
                F.when(sv.isNull(), bv)
                .when(bv.isNull(), sv)
                .otherwise(F.least(sv, bv))
            )
        elif st == "APPEND":
            empty = F.slice(F.coalesce(sv, bv), 1, 0)  # typed empty array
            expr = F.concat(F.coalesce(sv, empty), F.coalesce(bv, empty))
        elif st == "UNION":
            empty = F.slice(F.coalesce(sv, bv), 1, 0)
            expr = F.array_sort(
                F.array_distinct(
                    F.concat(F.coalesce(sv, empty), F.coalesce(bv, empty))
                )
            )
        else:
            raise ValueError(f"unknown partial-upsert strategy: {strat}")
        out_cols.append(expr.alias(col))
    out_cols.append(
        F.greatest(F.col(f"s.{cmp_col}"), F.col(f"b.{cmp_col}")).alias(cmp_col)
    )
    return joined.select(*out_cols)


def start_partial_upsert_sink(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    pk: list[str],
    cmp_col: str,
    strategies: dict[str, str],
    tiebreak: str | None = None,
):
    """Partial-upsert materialization via foreachBatch: each micro-batch
    merges into the per-PK state with merge_partial_state (the streaming
    form of the reference's partial upsert, UpsertConfig.partialUpsertStrategies;
    with Delta available the state read/write becomes MERGE INTO).
    INCREMENT state is not idempotent, so replayed epochs are skipped via
    the versioned-state commit protocol (see _commit_state)."""
    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state, meta = read_state(spark, sink_dir)
        if _already_applied(meta, epoch_id):
            _publish_state(sink_dir, meta["version"])
            return
        if state is not None:
            result = merge_partial_state(
                state, batch_df, pk, cmp_col, strategies, tiebreak
            )
        else:
            from hurricanedb_spark.operators.upsert import partial_upsert_view

            result = partial_upsert_view(batch_df, pk, cmp_col, strategies, tiebreak)
        _commit_state(sink_dir, result, epoch_id, meta)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# Ingestion-time aggregation (MutableSegmentImpl.java:891 aggregateMetrics;
# AggregationConfig.java:27-47): rows with equal dimension values collapse
# into one aggregated row as they are consumed. Every supported function is
# pairwise-mergeable, so incremental merge(state, batch) == full recompute.
# The sketch functions store SERIALIZED sketch bytes in the state column —
# the same shape the reference's realtime segments persist, and the shape
# the SQL surface's BYTES type-dispatch queries (sql/dialect.py:
# _theta_bytes_rewrite). DistinctCountHLL uses the engine's HLL wire form
# (DataSketches, hll_sketch_agg); theta uses operators/theta_ds compact
# bytes (reference aggregators: segment/processing/aggregator/
# DistinctCountHLLAggregator.java / DistinctCountThetaSketchAggregator.java).
_THETA_ROLLUP_K = 4096


def _theta_rollup_build(col_name: str):
    """Raw values -> one serialized compact theta sketch per group.
    Arrow-native UDAF (round-15): the batch type IS the Spark column
    type, so hashing dispatches on it directly — a nullable BIGINT
    metric arrives as pa.int64 with a validity bitmap, keeping every
    micro-batch of a column in ONE hash space (the pandas form needed a
    typeof() pin because NULL-bearing batches degraded to float64, and
    that degrade ALSO rounded ids past 2^53 before hashing)."""
    from hurricanedb_spark.functions.registry import _PA_TO_SPARK_TYPE
    from hurricanedb_spark.operators.theta_ds import (
        DEFAULT_SEED,
        _SPARK_TO_HASH_DTYPE,
        compute_seed_hash,
        from_hashes,
        hash_column_np,
        serialize,
    )

    def build(v: pa.Array) -> bytes:
        if isinstance(v, pa.ChunkedArray):
            v = v.combine_chunks()
        dtype = _SPARK_TO_HASH_DTYPE.get(
            _PA_TO_SPARK_TYPE.get(str(v.type), "")
        )
        if dtype is None:
            raise ValueError(
                f"theta rollup: unsupported metric type {v.type!r}"
            )
        hs = hash_column_np(
            v.drop_null().to_numpy(zero_copy_only=False), dtype
        )
        sk = from_hashes(
            (int(h) for h in hs if h),
            _THETA_ROLLUP_K,
            compute_seed_hash(DEFAULT_SEED),
        )
        return serialize(sk)

    return F.arrow_udf(build, "binary")(F.col(col_name))


def _theta_rollup_merge(col):
    """Serialized sketches -> their union, serialized."""
    from hurricanedb_spark.operators.theta_ds import (
        deserialize,
        serialize,
        union,
    )

    def merge(v):
        sks = [deserialize(bytes(b)) for b in v if b is not None]
        return serialize(union(sks, k=_THETA_ROLLUP_K))

    return F.pandas_udf(merge, "binary", F.PandasUDFType.GROUPED_AGG)(col)


_ROLLUP_MERGERS = {
    "SUM": F.sum,
    "COUNT": F.sum,  # partial counts merge by summing
    "MIN": F.min,
    "MAX": F.max,
    "DISTINCTCOUNTHLL": F.hll_union_agg,
    "DISTINCTCOUNTTHETASKETCH": _theta_rollup_merge,
}


def _split_grouped_agg(df: DataFrame, dims: list[str], exprs: list, pandas_exprs: list) -> DataFrame:
    """Grouped aggregation that tolerates mixing JVM aggregates with
    grouped-agg pandas UDFs: Spark forbids them in ONE agg()
    (INVALID_PANDAS_UDF_PLACEMENT), so each family aggregates separately
    and the two per-group frames join back on the dims — both sides have
    exactly the same group keys, so the join is a lossless zip. The zip
    must be NULL-SAFE per key (eqNullSafe): a plain `on=dims` equi-join
    never matches a NULL dimension value to itself and would silently
    drop every NULL-keyed group from the rollup."""
    if not pandas_exprs:
        return df.groupBy(*dims).agg(*exprs)
    if not exprs:
        return df.groupBy(*dims).agg(*pandas_exprs)
    jvm = df.groupBy(*dims).agg(*exprs)
    pnd = df.groupBy(*dims).agg(*pandas_exprs)
    return _null_safe_zip(jvm, pnd, dims)


def _null_safe_zip(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Inner-join two frames keyed identically on `keys` with null-safe
    equality, keeping one copy of the key columns."""
    renamed = right
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__r_{k}")
    cond = F.lit(True)
    for k in keys:
        cond = cond & left[k].eqNullSafe(renamed[f"__r_{k}"])
    return left.join(renamed, cond, "inner").drop(
        *[f"__r_{k}" for k in keys]
    )


def _rollup_exprs(aggs: dict[str, str], merge: bool) -> tuple[list, list]:
    """(jvm exprs, pandas exprs) for one rollup step. merge=False maps
    raw values into partial state (COUNT counts, sketches build);
    merge=True folds partial states (COUNT sums, sketches union)."""
    exprs, pandas_exprs = [], []
    for col, fn in aggs.items():
        fn = fn.upper()
        if fn == "DISTINCTCOUNTTHETASKETCH":
            expr = (
                _theta_rollup_merge(F.col(col))
                if merge
                else _theta_rollup_build(col)
            )
            pandas_exprs.append(expr.alias(col))
        elif fn == "DISTINCTCOUNTHLL":
            agg = F.hll_union_agg if merge else F.hll_sketch_agg
            exprs.append(agg(F.col(col)).alias(col))
        elif fn == "COUNT" and not merge:
            exprs.append(F.count(F.col(col)).alias(col))
        else:
            exprs.append(_ROLLUP_MERGERS[fn](F.col(col)).alias(col))
    return exprs, pandas_exprs


def _rollup_aggregate(df: DataFrame, dims: list[str], aggs: dict[str, str]) -> DataFrame:
    """One aggregation step over raw rows: dims -> aggregated metrics."""
    exprs, pandas_exprs = _rollup_exprs(aggs, merge=False)
    return _split_grouped_agg(df, dims, exprs, pandas_exprs)


def _rollup_merge(state: DataFrame, batch_agg: DataFrame, dims: list[str], aggs: dict[str, str]) -> DataFrame:
    """Merge two already-aggregated states (both keyed on dims)."""
    merged = state.unionByName(batch_agg)
    exprs, pandas_exprs = _rollup_exprs(aggs, merge=True)
    return _split_grouped_agg(merged, dims, exprs, pandas_exprs)


def start_rollup_sink(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    dims: list[str],
    aggs: dict[str, str],
):
    """Ingestion-time aggregation sink: the realtime table stores one row
    per distinct dimension combination, with metric columns aggregated
    in place (SUM/COUNT/MIN/MAX per AggregationConfig). Each micro-batch
    pre-aggregates map-side, then merges into the compact state — state
    size is O(distinct dims), not O(rows ingested), which is the entire
    point of the reference feature at stream scale. SUM/COUNT state is
    not idempotent, so replayed epochs are skipped via the versioned-state
    commit protocol (see _commit_state)."""
    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state, meta = read_state(spark, sink_dir)
        if _already_applied(meta, epoch_id):
            _publish_state(sink_dir, meta["version"])
            return
        batch_agg = _rollup_aggregate(batch_df, dims, aggs)
        result = _rollup_merge(state, batch_agg, dims, aggs) if state is not None else batch_agg
        _commit_state(sink_dir, result, epoch_id, meta)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
