"""Live Structured Streaming query in the correctness gate.

Unlike streaming_q.py (batch-view formulations), this runs a REAL
readStream -> watermark -> windowed aggregation -> memory sink pipeline
(availableNow trigger drives it to completion synchronously) and returns
the sink contents. The oracle reproduces tumbling-window semantics in SQL:
window_start = date_trunc(hour), counts/sums exact — so the driver
hash-checks an actual streaming execution against DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hurricanedb_spark.queries import register


@register(
    "q_streaming_windowed_live",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DECIMAL(30,4)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Continuous ingestion + event-time tumbling window, executed as a "
    "LIVE Structured Streaming job (readStream -> withWatermark -> "
    "window(1 hour) -> memory sink, availableNow). The reference's "
    "realtime table + time-bucket group-by (LLRealtimeSegmentDataManager "
    "ingestion; dateTimeConvert bucketing), with Spark's stronger "
    "watermark semantics. Oracle = the same tumbling windows in SQL.",
    tags=("streaming", "live", "window"),
)
def q_streaming_windowed_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema

    # the file stream source requires a DIRECTORY; expose the single
    # parquet file through a symlinked temp dir (testdata is read-only)
    import tempfile

    stream_dir = os.path.join(
        tempfile.gettempdir(), f"hstream_src_{abs(hash(os.path.abspath(src)))}"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    stream = spark.readStream.schema(raw_schema).parquet(stream_dir)
    # same ts normalization the batch loader (catalog.tables.load_table)
    # applies: epoch-nanos longs -> microsecond timestamps, TIMESTAMP_NTZ
    # -> session-zoned TIMESTAMP (withWatermark rejects NTZ event time)
    from pyspark.sql import types as T

    if isinstance(raw_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(raw_schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,4)"))
            .cast("decimal(30,4)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )

    name = "hstream_gate_sink"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@register(
    "q_streaming_theta_live",
    oracle=None,  # the theta estimate past K is DataSketches-specific,
    # which the DuckDB oracle cannot reproduce; equivalence to the BATCH
    # sketch is asserted byte-exactly in tests/test_streaming_stateful.py
    doc="Continuous per-event-type distinct-user estimate, executed as a "
    "LIVE streaming aggregate (streaming/stateful.py): Spark's bundled "
    "DataSketches theta_sketch_agg as update-mode state, bounded O(K) per "
    "key across micro-batches — the reference's realtime "
    "distinct-count-sketch path (DistinctCountThetaSketchAggregationFunction "
    "over consuming segments) as a declarative stateful aggregate.",
    tags=("streaming", "live", "sketch"),
)
def q_streaming_theta_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.streaming.stateful import streaming_theta_distinct

    src = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src).schema

    import tempfile

    stream_dir = os.path.join(
        tempfile.gettempdir(), f"hstream_theta_{abs(hash(os.path.abspath(src)))}"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    stream = spark.readStream.schema(raw_schema).parquet(stream_dir)
    out = streaming_theta_distinct(stream, "event_type", "user_id", k=256)
    name = "htheta_gate_sink"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # latest state row per key, sketch dropped (its bytes are
    # engine-specific; estimate + n_seen are the queryable surface)
    snap = spark.table(name)
    return (
        snap.groupBy("event_type")
        .agg(F.max(F.struct("n_seen", "estimate")).alias("s"))
        .select(
            "event_type",
            F.col("s.estimate").alias("estimate"),
            F.col("s.n_seen").alias("n_seen"),
        )
    )
