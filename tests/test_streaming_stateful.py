"""Streaming theta distinct count: Spark's bundled DataSketches sketch as
update-mode aggregation state.

The contract under test: after N micro-batches (or a restart from the
checkpoint) the per-key state equals the BATCH theta_sketch_agg over
the union of all rows — byte-identical sketches, not approximately-equal
estimates — including a key whose sketch is in estimation mode.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.operators.theta_ds import lg_k
from hurricanedb_spark.streaming.stateful import streaming_theta_distinct

K = 64


@pytest.fixture()
def src_dir():
    d = tempfile.mkdtemp(prefix="hstateful-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, d, name, rows):
    spark.createDataFrame(rows, "k string, v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, name))


def _batch_sketches(spark, rows):
    """key -> sketch bytes of the batch theta_sketch_agg over `rows`."""
    df = spark.createDataFrame(rows, "k string, v long")
    out = df.groupBy("k").agg(F.theta_sketch_agg("v", lg_k(K)).alias("sketch"))
    return {r.k: bytes(r.sketch) for r in out.collect()}


def test_streaming_sketch_equals_batch_sketch(spark, src_dir):
    rows1 = [("a", i) for i in range(500)] + [("b", i) for i in range(50)]
    rows2 = [("a", i) for i in range(250, 750)] + [("b", i) for i in range(25)]
    rows2.append(("b", None))  # counted in n_seen, takes no sketch slot
    _write_batch(spark, src_dir, "f1", rows1)
    _write_batch(spark, src_dir, "f2", rows2)

    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src_dir + "/*")
    )
    out = streaming_theta_distinct(stream, "k", "v", k=K)
    name = "theta_state_sink"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # update mode emits one row per key per touching batch: latest wins
    sink = spark.table(name).toPandas()
    assert (sink.groupby("k").size() == 2).all()  # two micro-batches
    latest = sink.groupby("k").apply(
        lambda g: g.sort_values("n_seen").iloc[-1], include_groups=False
    )

    batch = _batch_sketches(spark, rows1 + rows2)
    for key in ("a", "b"):
        assert bytes(latest.loc[key, "sketch"]) == batch[key]

    # 750 distinct for a (> K: estimated), 50 for b (< K: exact)
    assert latest.loc["b", "estimate"] == 50
    a_est = latest.loc["a", "estimate"]
    assert abs(a_est - 750) / 750 < 0.7  # K=64 -> loose bound, 5 sigma
    assert latest.loc["a", "n_seen"] == 1000 and latest.loc["b", "n_seen"] == 76


def test_streaming_sketch_state_bounded(spark, src_dir):
    _write_batch(spark, src_dir, "f1", [("x", i) for i in range(5_000)])
    stream = spark.readStream.schema("k string, v long").parquet(src_dir + "/*")
    out = streaming_theta_distinct(stream, "k", "v", k=K)
    name = "theta_bound_sink"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    row = spark.table(name).orderBy(F.desc("n_seen")).collect()[0]
    # state bounded regardless of input size: at most K retained hashes
    # plus the 3-long estimation-mode preamble
    assert len(row.sketch) <= 8 * (K + 3)
    assert abs(row.estimate - 5_000) / 5_000 < 0.7


def test_streaming_sketch_survives_restart(spark, src_dir):
    """Checkpointed state continuity: stop the query, add data, restart
    with the same checkpoint — the resumed state must include the first
    run's contribution (equal to the batch sketch over ALL rows)."""
    ckpt = tempfile.mkdtemp(prefix="hstateful-ckpt-")
    rows1 = [("a", i) for i in range(400)]
    rows2 = [("a", i) for i in range(200, 600)]
    _write_batch(spark, src_dir, "f1", rows1)

    sink = tempfile.mkdtemp(prefix="hstateful-sink-")

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        stream = spark.readStream.schema("k string, v long").parquet(src_dir + "/*")
        out = streaming_theta_distinct(stream, "k", "v", k=K)
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda bdf, eid: bdf.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    _write_batch(spark, src_dir, "f2", rows2)
    run_once()

    final = spark.read.parquet(sink).orderBy(F.desc("n_seen")).collect()[0]
    batch = _batch_sketches(spark, rows1 + rows2)
    assert bytes(final.sketch) == batch["a"]  # state carried over
    assert final.n_seen == 800

    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
