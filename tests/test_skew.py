"""Salted / split joins must be result-equivalent to the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from hurricanedb_spark.operators.skew import broadcast_topk_split, salted_join


def _skewed(spark):
    # key 'hot' dominates: 1000 rows; tail keys 10 rows each
    hot = spark.range(1000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    tail = spark.range(100).select(
        F.concat(F.lit("t"), (F.col("id") % 10)).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(tail)


def _dim(spark):
    rows = [("hot", 1.0)] + [(f"t{i}", float(i)) for i in range(10)] + [("unmatched", 9.9)]
    return spark.createDataFrame(rows, "k string, w double")


def _canon(df):
    return sorted((r.k, r.v, r.w) for r in df.collect())


def test_salted_join_equivalent(spark):
    large, small = _skewed(spark), _dim(spark)
    plain = large.join(small, "k").select("k", "v", "w")
    salted = salted_join(large, small, "k", n_salts=8).select("k", "v", "w")
    assert _canon(plain) == _canon(salted)


def test_salted_left_join_keeps_unmatched(spark):
    large = _skewed(spark).filter(F.col("k") == "hot")
    small = _dim(spark).filter(F.col("k") != "hot")  # no match for 'hot'
    out = salted_join(large, small, "k", n_salts=4, how="left")
    rows = out.collect()
    assert len(rows) == 1000
    assert all(r.w is None for r in rows)


def test_broadcast_topk_split_equivalent(spark):
    large, small = _skewed(spark), _dim(spark)
    plain = large.join(small, "k").select("k", "v", "w")
    split = broadcast_topk_split(large, small, "k", hot_keys=1).select("k", "v", "w")
    assert _canon(plain) == _canon(split)


def test_fan_out_min_rows_gate_is_metadata_only(spark, sf_dir):
    """Round-16 (r15 verdict #4): the min_rows gate must not run ANY
    Spark job at DataFrame-construction time — the bound comes from the
    input files' parquet footers. Asserted via statusTracker on a
    dedicated job group."""
    import os

    from hurricanedb_spark.operators.skew import _footer_row_bound, fan_out

    sc = spark.sparkContext
    doc = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert _footer_row_bound(doc) == doc.count()  # exact on a plain scan
    fresh = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sc.setJobGroup("fanout-gate-probe", "construction must launch no job")
    try:
        out = fan_out(fresh, min_rows=10_000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("fanout-gate-probe")) == []
    assert out is fresh  # 500-row fixture: gate skips the exchange


def test_fan_out_footer_bound_unavailable_means_not_small(spark):
    """A non-file-backed input cannot be bounded from metadata — the
    gate treats it as NOT small, so a narrow in-memory input still gets
    the exchange (protecting the 100 TB case where skipping would
    serialize the stage)."""
    from hurricanedb_spark.operators.skew import _footer_row_bound, fan_out

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100).coalesce(1)
    assert _footer_row_bound(narrow) is None
    assert fan_out(narrow, min_rows=10_000).rdd.getNumPartitions() == par


def test_fan_out_filtered_file_input_still_repartitions(spark, sf_dir):
    """The min_rows bound counts the file's rows before any filter: a
    filter down to 5 rows over the 500-row documents file is not
    "small", so the narrow scan still gets the exchange."""
    import os

    from hurricanedb_spark.operators.skew import _footer_row_bound, fan_out

    par = spark.sparkContext.defaultParallelism
    doc = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    few = doc.filter(F.col("doc_id") < 5)
    assert few.rdd.getNumPartitions() < par
    assert _footer_row_bound(few) == doc.count() >= 100
    out = fan_out(few, min_rows=100)
    assert out is not few
    assert out.rdd.getNumPartitions() == par
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2, 3, 4]
