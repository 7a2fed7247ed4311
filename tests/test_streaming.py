"""Structured Streaming tests — live micro-batch execution of the realtime
semantics (append ingestion, streaming dedup, windowed aggregation, upsert
sink, hybrid view), driven synchronously via availableNow triggers."""

from __future__ import annotations

import datetime
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F, types as T

from hurricanedb_spark.streaming import realtime as rt

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def tmp(request):
    d = tempfile.mkdtemp(prefix="hstream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _rows(n0, n, uid=1, et="click"):
    base = datetime.datetime(2024, 1, 1)
    return [
        (i, base + datetime.timedelta(minutes=i), uid, et, float(i))
        for i in range(n0, n0 + n)
    ]


def test_append_ingestion_immediately_queryable(spark, tmp):
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 5))
    q = rt.start_append_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt
    )
    q.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 5

    # new data arrives -> restart availableNow picks up only the delta
    _write_batch(spark, src, _rows(5, 3))
    q2 = rt.start_append_sink(rt.read_event_stream(spark, src, SCHEMA), sink, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 8  # exactly-once: no re-ingest


def test_streaming_dedup(spark, tmp):
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    rows = _rows(0, 4) + _rows(0, 4)  # duplicated event_ids
    _write_batch(spark, src, rows)
    stream = rt.read_event_stream(spark, src, SCHEMA)
    deduped = rt.streaming_dedup(stream, ["event_id"], "ts", "1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 4


def test_windowed_aggregation_with_watermark(spark, tmp):
    src = f"{tmp}/src"
    _write_batch(spark, src, _rows(0, 30))
    stream = rt.read_event_stream(spark, src, SCHEMA)
    agg = rt.windowed_counts(stream, "ts", "10 minutes", ["event_type"])
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM win_counts ORDER BY window").collect()
    assert len(out) == 3  # 30 minutes / 10-minute tumbling windows
    assert all(r.n == 10 for r in out)


def test_upsert_sink_latest_wins(spark, tmp):
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    base = datetime.datetime(2024, 1, 1)
    _write_batch(
        spark,
        src,
        [
            (1, base, 1, "v1", 1.0),
            (2, base + datetime.timedelta(minutes=1), 1, "v2", 2.0),
            (3, base, 2, "w1", 9.0),
        ],
    )
    q = rt.start_upsert_sink(
        rt.read_event_stream(spark, src, SCHEMA),
        sink,
        ckpt,
        pk=["user_id"],
        cmp_col="ts",
        tiebreak="event_id",
    )
    q.awaitTermination(120)
    out = {r.user_id: r for r in spark.read.parquet(sink).collect()}
    assert len(out) == 2
    assert out[1].event_type == "v2"  # latest ts wins
    assert out[2].event_type == "w1"


def test_hybrid_view_boundary(spark, tmp):
    off, rt_dir = f"{tmp}/off", f"{tmp}/rt"
    base = datetime.datetime(2024, 1, 1)
    _write_batch(spark, off, _rows(0, 10))  # minutes 0-9
    _write_batch(spark, rt_dir, _rows(5, 10))  # minutes 5-14 (overlap 5-9)
    boundary = base + datetime.timedelta(minutes=7)
    view = rt.hybrid_view(
        spark,
        spark.read.parquet(off),
        spark.read.parquet(rt_dir),
        "ts",
        boundary,
    )
    rows = view.collect()
    # offline serves <= minute 7 (8 rows: 0..7), realtime serves > 7 (7 rows: 8..14)
    assert len(rows) == 15
    assert len({r.event_id for r in rows}) == 15  # no duplicates across boundary


def test_partial_upsert_sink_incremental_merge(spark, tmp):
    """Two availableNow passes: the second batch must merge pairwise into
    the accumulated state per column strategy (the reference's
    upsert/merger semantics), not recompute from raw history."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    base = datetime.datetime(2024, 1, 1)
    strategies = {"value": "INCREMENT", "event_type": "OVERWRITE"}

    _write_batch(
        spark,
        src,
        [(1, base, 1, "first", 10.0), (2, base + datetime.timedelta(minutes=1), 1, "second", 5.0)],
    )
    q = rt.start_partial_upsert_sink(
        rt.read_event_stream(spark, src, SCHEMA),
        sink, ckpt, pk=["user_id"], cmp_col="ts", strategies=strategies,
    )
    q.awaitTermination(120)
    row = spark.read.parquet(sink).collect()[0]
    assert row.value == 15.0 and row.event_type == "second"

    _write_batch(
        spark, src,
        [(3, base + datetime.timedelta(minutes=2), 1, "third", 2.5),
         (4, base, 2, "other", 1.0)],
    )
    q2 = rt.start_partial_upsert_sink(
        rt.read_event_stream(spark, src, SCHEMA),
        sink, ckpt, pk=["user_id"], cmp_col="ts", strategies=strategies,
    )
    q2.awaitTermination(120)
    out = {r.user_id: r for r in spark.read.parquet(sink).collect()}
    assert len(out) == 2
    assert out[1].value == 17.5  # 10 + 5 + 2.5 accumulated
    assert out[1].event_type == "third"  # overwrite by latest
    assert out[2].value == 1.0 and out[2].event_type == "other"


def test_merge_partial_state_array_strategies(spark):
    from hurricanedb_spark.streaming.realtime import merge_partial_state

    state = spark.createDataFrame(
        [(1, [1, 2], [1, 2], 100)], "pk int, ap array<int>, un array<int>, ts long"
    )
    batch = spark.createDataFrame(
        [(1, [2, 3], [2, 3], 200), (2, [9], [9], 50)],
        "pk int, ap array<int>, un array<int>, ts long",
    )
    out = {
        r.pk: r
        for r in merge_partial_state(
            state, batch, ["pk"], "ts", {"ap": "APPEND", "un": "UNION"},
            batch_schema="state",
        ).collect()
    }
    assert out[1].ap == [1, 2, 2, 3]  # arrival-ordered append
    assert out[1].un == [1, 2, 3]  # sorted distinct union
    assert out[1].ts == 200
    assert out[2].ap == [9] and out[2].un == [9] and out[2].ts == 50


def test_rollup_sink_ingestion_time_aggregation(spark, tmp):
    """MutableSegmentImpl.aggregateMetrics analog: the sink holds one row
    per dimension combo; incremental merge across restarts equals a full
    batch recompute over everything ingested."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/rollup", f"{tmp}/ckpt"
    aggs = {"value": "SUM", "event_id": "COUNT"}
    _write_batch(spark, src, _rows(0, 6, uid=1, et="click") + _rows(6, 2, uid=2, et="view"))
    q = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["user_id", "event_type"], aggs=aggs,
    )
    q.awaitTermination(120)
    state = {(r.user_id, r.event_type): (r.value, r.event_id)
             for r in spark.read.parquet(sink).collect()}
    assert state == {(1, "click"): (15.0, 6), (2, "view") : (13.0, 2)}

    # second wave: same dims collapse further, new dim appears
    _write_batch(spark, src, _rows(8, 4, uid=1, et="click") + _rows(12, 1, uid=3, et="error"))
    q2 = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["user_id", "event_type"], aggs=aggs,
    )
    q2.awaitTermination(120)
    got = {(r.user_id, r.event_type): (r.value, r.event_id)
           for r in spark.read.parquet(sink).collect()}
    # full recompute over all 13 ingested rows
    full = spark.read.parquet(src).groupBy("user_id", "event_type").agg(
        F.sum("value").alias("v"), F.count("event_id").alias("n"))
    want = {(r.user_id, r.event_type): (r.v, r.n) for r in full.collect()}
    assert got == want
    assert len(got) == 3  # state is O(distinct dims), not O(rows)


def test_rollup_sink_replayed_epoch_not_double_counted(spark, tmp):
    """foreachBatch is at-least-once: re-delivering already-merged batches
    (same data, restarted epoch numbering from a wiped checkpoint) must not
    double-count SUM/COUNT state — the versioned-state commit protocol
    skips epochs at or below the recorded high-water mark."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/rollup", f"{tmp}/ckpt"
    aggs = {"value": "SUM", "event_id": "COUNT"}
    _write_batch(spark, src, _rows(0, 4, uid=1, et="click"))
    q = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["user_id", "event_type"], aggs=aggs,
    )
    q.awaitTermination(120)
    before = spark.read.parquet(sink).collect()

    # wipe the checkpoint: the source replays every file from epoch 0
    shutil.rmtree(ckpt)
    q2 = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["user_id", "event_type"], aggs=aggs,
    )
    q2.awaitTermination(120)
    after = spark.read.parquet(sink).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert after[0].value == 6.0  # 0+1+2+3 once, not twice


def test_merge_partial_state_late_batch_respects_cmp(spark):
    """A late-arriving batch (cmp older than accumulated state) must not
    overwrite newer state (reference: records with comparison value below
    the stored one are dropped), and IGNORE must track the earliest record
    by cmp so incremental merge == full recompute."""
    from hurricanedb_spark.streaming.realtime import merge_partial_state

    state = spark.createDataFrame(
        [(1, "newer", "oldest", 200)], "pk int, ow string, ig string, ts long"
    )
    late = spark.createDataFrame(
        [(1, "stale", "earlier", 100), (2, "fresh", "fresh", 50)],
        "pk int, ow string, ig string, ts long",
    )
    out = {
        r.pk: r
        for r in merge_partial_state(
            state, late, ["pk"], "ts",
            {"ow": "OVERWRITE", "ig": "IGNORE"}, batch_schema="state",
        ).collect()
    }
    assert out[1].ow == "newer"    # late batch does not overwrite
    assert out[1].ig == "earlier"  # IGNORE keeps value at smallest cmp
    assert out[1].ts == 200
    assert out[2].ow == "fresh" and out[2].ig == "fresh"


def test_pipeline_is_source_agnostic_rate_source(spark, tmp):
    """The realtime pipeline must not depend on the file source: run the
    same append-sink pipeline from the built-in `rate` source (a stand-in
    for Kafka — same readStream surface, different format string) and
    query the sink immediately (reference claim: rows queryable as soon
    as a micro-batch commits)."""
    sink, ckpt = f"{tmp}/rate_sink", f"{tmp}/rate_ckpt"
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
        .withColumnsRenamed({"timestamp": "ts", "value": "event_id"})
        .withColumn("user_id", F.col("event_id") % 10)
        .withColumn("event_type", F.lit("rate"))
        .withColumn("value", F.col("event_id").cast("double"))
    )
    import time

    q = rt.start_append_sink(
        stream, sink, ckpt, trigger={"processingTime": "500 milliseconds"}
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            time.sleep(1.5)
            try:
                n = spark.read.parquet(sink).count()
            except Exception:
                n = 0  # sink not yet created
            if n > 0:
                break
    finally:
        q.stop()
    assert n > 0
    out = spark.read.parquet(sink)
    assert set(out.columns) >= {"ts", "event_id", "user_id", "event_type", "value"}


def test_kafka_source_same_pipeline(spark, tmp):
    """Kafka end-to-end: produce JSON events to an embedded broker, read
    through rt.read_kafka_stream, drain via the SAME append-sink pipeline
    the file and rate sources use, and query the sink. Gated on the
    pieces this container lacks (kafka client, testcontainers, the
    spark-sql-kafka connector jar); where they exist the test activates
    unchanged, which is the point: the swap is the format string."""
    pytest.importorskip("kafka", reason="kafka-python client not installed")
    tc = pytest.importorskip(
        "testcontainers.kafka", reason="testcontainers not installed"
    )
    # the connector jar must be on the Spark classpath
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:1"
        ).option("subscribe", "probe").load()
    except Exception as e:  # noqa: BLE001
        if "Failed to find data source: kafka" in str(e):
            pytest.skip("spark-sql-kafka connector not on classpath")
        raise

    import json

    from kafka import KafkaProducer

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    with tc.KafkaContainer() as broker:
        servers = broker.get_bootstrap_server()
        producer = KafkaProducer(
            bootstrap_servers=servers,
            value_serializer=lambda v: json.dumps(v).encode(),
        )
        for i in range(20):
            producer.send(
                "events", {"event_id": i, "user_id": i % 4, "value": float(i)}
            )
        producer.flush()
        stream = rt.read_kafka_stream(spark, servers, "events", schema)
        sink, ckpt = f"{tmp}/kafka_sink", f"{tmp}/kafka_ckpt"
        q = rt.start_append_sink(stream, sink, ckpt)
        q.awaitTermination(60)
        got = spark.read.parquet(sink)
        assert got.count() == 20
        assert got.agg(F.countDistinct("user_id")).collect()[0][0] == 4


def test_rollup_sink_sketch_metrics(spark, tmp):
    """Ingestion-time sketch aggregation (AggregationConfig distinct-count
    functions; aggregator analogs DistinctCountHLLAggregator /
    DistinctCountThetaSketchAggregator): the state column stores
    SERIALIZED sketches, incremental merge across restarts equals a full
    recompute, and the stored bytes answer through the SQL surface's
    BYTES type-dispatch."""
    from hurricanedb_spark.operators.theta_ds import deserialize
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    src, sink, ckpt = f"{tmp}/src", f"{tmp}/rollup", f"{tmp}/ckpt"
    aggs = {"user_id": "DISTINCTCOUNTTHETASKETCH", "event_id": "DISTINCTCOUNTHLL"}
    _write_batch(spark, src, _rows(0, 5, uid=1) + _rows(5, 3, uid=2))
    q = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["event_type"], aggs=aggs,
    )
    q.awaitTermination(120)
    # second wave: new user, overlapping event ids not possible (ids
    # advance) — distinct users should reach 3
    _write_batch(spark, src, _rows(8, 4, uid=3))
    q2 = rt.start_rollup_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        dims=["event_type"], aggs=aggs,
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 1  # one dim combo
    sk = deserialize(bytes(rows[0]["user_id"]))
    assert round(sk.estimate()) == 3  # exact below nominalEntries
    # HLL state merges to ~12 distinct event ids
    spark.read.parquet(sink).createOrReplaceTempView("rollup_state_t")
    est = spark.sql(
        "SELECT hll_sketch_estimate(event_id) AS e FROM rollup_state_t"
    ).collect()[0]["e"]
    assert abs(est - 12) / 12 < 0.1
    # ...and the Pinot SQL surface type-dispatches the BYTES columns;
    # both unions are JVM aggregates, so one SELECT answers both
    h = HurricaneSQL(spark)
    row = h.sql(
        "SELECT distinctCountThetaSketch(user_id) AS du, "
        "distinctCountHLL(event_id) AS de FROM rollup_state_t",
        default_limit=None,
    ).collect()[0]
    assert row["du"] == 3 and abs(row["de"] - 12) / 12 < 0.1


def test_rollup_aggregate_keeps_null_dimension_groups(spark):
    """_split_grouped_agg zips the JVM- and pandas-aggregate frames back
    on the dims; the zip must be null-safe — the pre-fix equi-join
    silently dropped every NULL-keyed dimension group from the rollup."""
    from hurricanedb_spark.operators.theta_ds import deserialize
    from hurricanedb_spark.streaming.realtime import (
        _rollup_aggregate,
        _rollup_merge,
    )

    df = spark.createDataFrame(
        [("a", 1, 100), ("a", 2, 100), (None, 3, 7), (None, 3, 8)],
        "dim string, user_id int, hits bigint",
    )
    aggs = {"user_id": "DISTINCTCOUNTTHETASKETCH", "hits": "SUM"}
    state = _rollup_aggregate(df, ["dim"], aggs)
    got = {
        r["dim"]: (round(deserialize(bytes(r["user_id"])).estimate()), r["hits"])
        for r in state.collect()
    }
    assert got == {"a": (2, 200), None: (1, 15)}
    # the merge step zips the same way — NULL groups must survive it too
    merged = _rollup_merge(state, state, ["dim"], aggs)
    got2 = {
        r["dim"]: (round(deserialize(bytes(r["user_id"])).estimate()), r["hits"])
        for r in merged.collect()
    }
    assert got2 == {"a": (2, 400), None: (1, 30)}


def test_rollup_theta_hash_space_stable_across_null_batches(spark):
    """An int metric column hashes as LONG in every micro-batch, whether
    or not the batch carries NULLs: pre-fix, a NULL-bearing batch
    arrived as float64 and its values sketched as doubles — sketches
    from NULL-bearing and NULL-free batches of the same column never
    merged correctly (the union double-counted every shared value)."""
    from hurricanedb_spark.operators.theta_ds import deserialize
    from hurricanedb_spark.streaming.realtime import (
        _rollup_aggregate,
        _rollup_merge,
    )

    aggs = {"user_id": "DISTINCTCOUNTTHETASKETCH"}
    clean = spark.createDataFrame(
        [("a", i) for i in range(10)], "dim string, user_id bigint"
    )
    with_nulls = spark.createDataFrame(
        [("a", i) for i in range(5, 15)] + [("a", None)],
        "dim string, user_id bigint",
    )
    s1 = _rollup_aggregate(clean, ["dim"], aggs)
    s2 = _rollup_aggregate(with_nulls, ["dim"], aggs)
    merged = _rollup_merge(s1, s2, ["dim"], aggs).collect()[0]
    # union of {0..9} and {5..14} = 15 distinct (pre-fix: 20)
    assert round(deserialize(bytes(merged["user_id"])).estimate()) == 15


# ---------------------------------------------------------------------------
# The versioned-state commit protocol: {sink} is a link to the committed
# version, and .meta carries the state schema.
# ---------------------------------------------------------------------------


def _run_upsert(spark, src, sink, ckpt):
    q = rt.start_upsert_sink(
        rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
        pk=["event_id"], cmp_col="ts", tiebreak="value",
    )
    q.awaitTermination(120)
    assert q.exception() is None


def _served(spark, sink):
    return sorted((r.event_id, r.value) for r in spark.read.parquet(sink).collect())


def _meta(sink):
    with open(sink + ".meta") as f:
        return json.load(f)


def _versions(sink):
    parent, base = os.path.split(sink)
    return sorted(e for e in os.listdir(parent) if e.startswith(base + ".v"))


def _upd(n0, n, value):
    """Rows n0..n0+n-1 again, later in time and with a new value."""
    return [(i, ts + datetime.timedelta(days=1), uid, et, value)
            for i, ts, uid, et, _ in _rows(n0, n)]


def test_upsert_commit_publishes_link_and_schema(spark, tmp):
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 4))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(0, 2, 50.0))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _rows(4, 1))
    _run_upsert(spark, src, sink, ckpt)
    assert os.readlink(sink) == "sink.v2"
    # the version before the committed one stays for readers mid-swap
    assert _versions(sink) == ["sink.v1", "sink.v2"]
    meta = _meta(sink)
    assert meta["version"] == 2
    assert T.StructType.fromJson(meta["schema"]) == SCHEMA
    assert _served(spark, sink) == [(0, 50.0), (1, 50.0), (2, 2.0), (3, 3.0), (4, 4.0)]


def test_upsert_torn_next_version_remerges_from_committed(spark, tmp):
    """A crash while writing {sink}.v{N+1} leaves .meta at N: the next
    run merges from v{N} and overwrites the torn directory."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 3))
    _run_upsert(spark, src, sink, ckpt)
    os.makedirs(f"{sink}.v1")
    with open(f"{sink}.v1/part-00000-torn.snappy.parquet", "wb") as f:
        f.write(b"PAR1 not a whole file")
    _write_batch(spark, src, _upd(1, 1, 70.0) + _rows(3, 1))
    _run_upsert(spark, src, sink, ckpt)
    assert _meta(sink)["version"] == 1
    assert os.readlink(sink) == "sink.v1"
    assert _served(spark, sink) == [(0, 0.0), (1, 70.0), (2, 2.0), (3, 3.0)]


def test_upsert_replay_after_meta_rename_only_repoints(spark, tmp):
    """A crash between the .meta rename and the publish leaves .meta at
    N+1 and {sink} on v{N}; the replayed epoch re-points the link and
    merges nothing."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 3))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(0, 1, 90.0))
    _run_upsert(spark, src, sink, ckpt)
    want = _served(spark, sink)
    # roll the publish and the stream's own commit of epoch 1 back
    os.remove(sink)
    os.symlink("sink.v0", sink)
    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    meta = _meta(sink)
    _run_upsert(spark, src, sink, ckpt)
    assert _meta(sink) == meta  # the epoch was not merged again
    assert _versions(sink) == ["sink.v0", "sink.v1"]
    assert os.readlink(sink) == "sink.v1"
    assert _served(spark, sink) == want == [(0, 90.0), (1, 1.0), (2, 2.0)]


def test_upsert_upgrades_copy_layout_state(spark, tmp):
    """State from the copy-based layout (a real {sink} directory and a
    .meta without a schema) is read by inference and upgraded to the
    link layout on the next commit."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 3))
    _run_upsert(spark, src, sink, ckpt)
    os.remove(sink)
    shutil.copytree(f"{sink}.v0", sink)
    meta = _meta(sink)
    del meta["schema"]
    with open(sink + ".meta", "w") as f:
        json.dump(meta, f)
    _write_batch(spark, src, _upd(2, 1, 20.0) + _rows(3, 1))
    _run_upsert(spark, src, sink, ckpt)
    assert os.readlink(sink) == "sink.v1"
    assert "schema" in _meta(sink)
    assert _served(spark, sink) == [(0, 0.0), (1, 1.0), (2, 20.0), (3, 3.0)]


def test_upsert_served_path_never_empty_during_commits(spark, tmp):
    """The broker may list {sink} at any moment: every listing during a
    commit holds a whole version (a part file and _SUCCESS)."""
    import threading

    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 20))
    _run_upsert(spark, src, sink, ckpt)
    bad, polls, done = [], [0], threading.Event()

    def poll():
        while not done.is_set():
            try:
                names = os.listdir(sink)
            except OSError as e:
                names = [repr(e)]
            polls[0] += 1
            if "_SUCCESS" not in names or not any(
                n.startswith("part-") and n.endswith(".parquet") for n in names
            ):
                bad.append(names)

    t = threading.Thread(target=poll, daemon=True)
    t.start()
    try:
        for step in range(1, 4):
            _write_batch(spark, src, _upd(0, 5, 100.0 + step) + _rows(20 * step, 20))
            _run_upsert(spark, src, sink, ckpt)
    finally:
        done.set()
        t.join(10)
    assert polls[0] > 100
    assert not bad, bad[:3]


def _last_job_id(spark) -> int:
    """Id of the newest job in the status store, once the listener bus
    has delivered every event. Job ids count up from 0 across the
    context, so the difference of two readings counts the jobs between
    them whatever their job group (a foreachBatch body runs its jobs on
    a thread that does not inherit the caller's group)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_warm_upsert_commit_runs_two_jobs(spark, tmp):
    """A warm commit runs the merge's shuffle and the write of the new
    version: no schema-inference job for the state and no second copy."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 10))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(0, 3, 5.0))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(3, 3, 6.0) + _rows(10, 2))
    before = _last_job_id(spark)
    _run_upsert(spark, src, sink, ckpt)
    assert _last_job_id(spark) - before == 2
    assert len(_served(spark, sink)) == 12


def test_rollup_sink_restart_reads_state_with_meta_schema(spark, tmp):
    """A rollup commit after a restart reads its state with the schema in
    .meta (a binary sketch column included) and keeps every row."""
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/rollup", f"{tmp}/ckpt"
    aggs = {"value": "SUM", "event_id": "COUNT", "user_id": "DISTINCTCOUNTHLL"}

    def run():
        q = rt.start_rollup_sink(
            rt.read_event_stream(spark, src, SCHEMA), sink, ckpt,
            dims=["event_type"], aggs=aggs,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    _write_batch(spark, src, _rows(0, 3, uid=1) + _rows(3, 2, uid=2, et="view"))
    run()
    schema = T.StructType.fromJson(_meta(sink)["schema"])
    assert [(f.name, f.dataType) for f in schema.fields] == [
        ("event_type", T.StringType()), ("value", T.DoubleType()),
        ("event_id", T.LongType()), ("user_id", T.BinaryType())]
    state, _ = rt.read_state(spark, sink)
    assert state.schema == spark.read.parquet(f"{sink}.v0").schema
    _write_batch(spark, src, _rows(5, 2, uid=3) + _rows(7, 1, uid=3, et="error"))
    run()
    spark.read.parquet(sink).createOrReplaceTempView("rollup_restart_t")
    got = {r.event_type: (r.value, r.event_id, round(r.users)) for r in spark.sql(
        "SELECT event_type, value, event_id, hll_sketch_estimate(user_id) AS users "
        "FROM rollup_restart_t").collect()}
    assert got == {"click": (0.0 + 1 + 2 + 5 + 6, 5, 2), "view": (7.0, 2, 1),
                   "error": (7.0, 1, 1)}


# ---------------------------------------------------------------------------
# The served read: `load_table` over {sink} reads with the schema in .meta
# and, while Spark plans the scan as one split, as one partition.
# ---------------------------------------------------------------------------


def _served_table(session, sink):
    from hurricanedb_spark.catalog.tables import load_table

    parent, base = os.path.split(sink)
    return load_table(session, parent, base[: -len(".parquet")])


def _commit_three(spark, tmp):
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink.parquet", f"{tmp}/ckpt"
    _write_batch(spark, src, _rows(0, 6) + _rows(6, 4, uid=2, et="view"))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(0, 3, 50.0))
    _run_upsert(spark, src, sink, ckpt)
    _write_batch(spark, src, _upd(6, 2, 60.0) + _rows(10, 2, et="view"))
    _run_upsert(spark, src, sink, ckpt)
    assert os.readlink(sink) == "sink.parquet.v2"
    return sink


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


GROUPED = ("SELECT event_type, COUNT(*) AS n, SUM(value) AS total "
           "FROM served_t GROUP BY event_type ORDER BY event_type")
# click: ids 0-2 at 50, 3-5, and 6-7 (updated as clicks) at 60; view: 8-11
GROUPED_ROWS = [("click", 8, 3 * 50.0 + 3 + 4 + 5 + 2 * 60.0),
                ("view", 4, 8.0 + 9 + 10 + 11)]


def test_served_table_reads_meta_schema_as_one_partition(spark, tmp):
    """After several commits the served frame has the inferred schema,
    and its GROUP BY runs in one job with no exchange: the one-split
    scan is coalesced to one partition."""
    from segment_decodes import collect_jobs

    sink = _commit_three(spark, tmp)
    df = _served_table(spark, sink)
    assert df.schema == spark.read.parquet(sink).schema
    df.createOrReplaceTempView("served_t")
    q = spark.sql(GROUPED)
    rows, jobs = collect_jobs(q)
    assert [tuple(r) for r in rows] == GROUPED_ROWS
    assert jobs == 1
    plan = _plan(q)
    assert "Coalesce 1" in plan and "FileScan parquet" in plan
    assert "Exchange" not in plan, plan


def test_served_table_split_by_spark_is_not_coalesced(spark, tmp):
    """In a session that splits the state into several scan partitions
    the served frame keeps Spark's split, and returns the same rows."""
    sink = _commit_three(spark, tmp)
    session = spark.newSession()
    session.conf.set("spark.sql.files.maxPartitionBytes", "256")
    df = _served_table(session, sink)
    assert df._jdf.rdd().getNumPartitions() > 1
    assert "Coalesce" not in _plan(df)
    df.createOrReplaceTempView("served_t")
    assert [tuple(r) for r in session.sql(GROUPED).collect()] == GROUPED_ROWS


def test_served_table_falls_back_to_inference(spark, tmp):
    """With .meta naming version N+1 while the link still names N (a
    reader between the commit and the publish), and with a .meta that
    holds no schema, the served read infers the schema and returns
    version N's rows."""
    sink = _commit_three(spark, tmp)
    want = _served(spark, sink)
    meta = _meta(sink)
    shutil.copytree(f"{sink}.v2", f"{sink}.v3")
    _write_batch(spark, f"{sink}.v3", _rows(100, 1))
    for torn in ({**meta, "version": 3}, {k: v for k, v in meta.items() if k != "schema"}):
        with open(sink + ".meta", "w") as f:
            json.dump(torn, f)
        session = spark.newSession()  # a load_table cache of its own
        assert rt.read_state(session, sink, served=True) == (None, torn)
        df = _served_table(session, sink)
        assert "Coalesce" not in _plan(df)
        assert sorted((r.event_id, r.value) for r in df.collect()) == want
