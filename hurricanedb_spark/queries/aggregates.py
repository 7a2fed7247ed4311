"""Remaining aggregation families from AggregationFunctionType.java:33-97:
percentiles, mode, histogram, bool_and/bool_or, skewness/kurtosis (exact
moments), idSet/collect_set, approximate distinct counts.

Approximate sketches (HLL, theta) use engine-specific hash functions, so
their *estimates* can't hash-match DuckDB; those register rows-only and are
bounds-tested in tests/test_aggregates.py. The exact forms here are the
deterministic contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from hurricanedb_spark.catalog.tables import load_table
from hurricanedb_spark.queries import register
from hurricanedb_spark.queries._exact import dcol


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q_percentile_exact",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(CASE WHEN rn - 1 >= CAST(floor((n - 1) * 0.50) AS BIGINT)
                    THEN l_quantity END) AS p50_lo,
           MIN(CASE WHEN rn - 1 >= CAST(floor((n - 1) * 0.90) AS BIGINT)
                    THEN l_quantity END) AS p90_lo,
           MIN(CASE WHEN rn - 1 >= CAST(floor((n - 1) * 0.99) AS BIGINT)
                    THEN l_quantity END) AS p99_lo
    FROM ranked
    GROUP BY l_returnflag
    """,
    doc="percentile family (AggregationFunctionType.java:54-59) in the "
    "deterministic lower-value formulation (value at floor((n-1)*q) of the "
    "sorted column — Pinot's PercentileEst returns a member of the set, not "
    "an interpolation, so this matches reference semantics; interpolated "
    "percentile() is also exposed via the dialect).",
    tags=("aggregation", "percentile"),
)
def q_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_returnflag")).alias("n"),
    )

    def lo(q: float, alias: str):
        thresh = F.floor((F.col("n") - 1) * q).cast("long")
        return F.min(
            F.when(F.col("rn") - 1 >= thresh, F.col("l_quantity"))
        ).alias(alias)

    return ranked.groupBy("l_returnflag").agg(
        lo(0.50, "p50_lo"), lo(0.90, "p90_lo"), lo(0.99, "p99_lo")
    )


@register(
    "q_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                   ORDER BY c DESC, l_quantity ASC) AS rn
      FROM counts
    ) WHERE rn = 1
    """,
    doc="mode (AggregationFunctionType.java:39) in the deterministic "
    "formulation: most frequent value, ties broken by smallest value "
    "(builtin mode() is tie-nondeterministic in both engines).",
    tags=("aggregation", "mode"),
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_count"),
        )
    )


@register(
    "q_histogram_buckets",
    oracle="""
    SELECT CAST(least(greatest(floor((o_totalprice - 0) / 30000), 0), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="histogram (AggregationFunctionType.java:61): fixed-width bucketing "
    "via floor((x-lo)/width) clamped to [0, nbuckets-1] + group counts. "
    "(Previously shadowed by the dialect-form q_histogram below — two "
    "registrations shared one name; renamed round 6.)",
    tags=("aggregation", "histogram"),
)
def q_histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(F.floor((F.col("o_totalprice") - 0) / 30000), F.lit(0)),
        F.lit(9),
    ).cast("long")
    return od.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "q_bool_aggregates",
    oracle="""
    SELECT event_type,
           BOOL_AND(value >= 0) AS all_nonneg,
           BOOL_OR(value > 99) AS any_big,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="boolAnd/boolOr aggregates (AggregationFunctionType.java:96-97).",
    tags=("aggregation", "bool"),
)
def q_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99).alias("any_big"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_skew_kurtosis_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(6,4))) AS DECIMAL(30,4)) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(6,4)) * CAST(l_quantity AS DECIMAL(6,4))) AS DECIMAL(30,4)) AS DOUBLE) AS s2,
             CAST(CAST(SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(6,4)) * CAST(l_quantity AS DECIMAL(6,4)) AS DECIMAL(19,8)) * CAST(l_quantity AS DECIMAL(6,4)) AS DECIMAL(22,12))) AS DECIMAL(30,0)) AS DOUBLE) AS s3,
             CAST(CAST(SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(6,4)) * CAST(l_quantity AS DECIMAL(6,4)) AS DECIMAL(19,8)) * CAST(CAST(l_quantity AS DECIMAL(6,4)) * CAST(l_quantity AS DECIMAL(6,4)) AS DECIMAL(19,8)) AS DECIMAL(38,16))) AS DECIMAL(30,0)) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, s1 / n AS mean,
           (s2 - s1 * s1 / n) / n AS m2,
           (s3 - 3 * (s1 / n) * s2 + 2 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m3,
           s4 / n AS fourth_raw_moment
    FROM m
    """,
    doc="skewness/kurtosis/fourthMoment (AggregationFunctionType.java:68-70) "
    "from exact decimal power sums — the same partial-moment merge contract "
    "the reference's VarianceTuple/MomentTuple aggregators use, reproducible "
    "across engines (builtin skewness() is a float fold, not reproducible).",
    tags=("aggregation", "statistical"),
)
def q_skew_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # decimal(6,4): q^4 must stay under DuckDB's 38-digit multiply cap
    q = F.col("l_quantity").cast("decimal(6,4)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("decimal(30,4)").cast("double").alias("s1"),
        F.sum(q * q).cast("decimal(30,4)").cast("double").alias("s2"),
        F.sum(((q * q).cast("decimal(19,8)") * q).cast("decimal(22,12)"))
        .cast("decimal(30,0)")
        .cast("double")
        .alias("s3"),
        F.sum(
            ((q * q).cast("decimal(19,8)") * (q * q).cast("decimal(19,8)")).cast(
                "decimal(38,16)"
            )
        )
        .cast("decimal(30,0)")
        .cast("double")
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    mean = s1 / n
    return m.select(
        "l_returnflag",
        "n",
        mean.alias("mean"),
        ((s2 - s1 * s1 / n) / n).alias("m2"),
        ((s3 - F.lit(3) * mean * s2 + F.lit(2) * n * mean * mean * mean) / n).alias("m3"),
        (s4 / n).alias("fourth_raw_moment"),
    )


@register(
    "q_idset_collect",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
             AS status_set,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="idSet (AggregationFunctionType.java:60) = bounded collect_set, "
    "sorted + joined to one deterministic string (the driver's pandas "
    "canonicalizer cannot sort array cells — round-5 lesson).",
    tags=("aggregation", "idset"),
)
def q_idset_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "status_set"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "q_approx_distinct_hll",
    oracle=None,  # HLL hash differs per engine; bounds-tested in pytest
    doc="distinctCountHLL (AggregationFunctionType.java:46-49) -> "
    "approx_count_distinct (HLL++). Estimates are engine-specific, so the "
    "driver records rows-only; tests/test_aggregates.py asserts the "
    "estimate is within 5% of exact.",
    tags=("aggregation", "approx", "sketch"),
)
def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


@register(
    "q_theta_sketch_setops",
    oracle="""
    SELECT
      COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS dc_f,
      COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS dc_o,
      COUNT(DISTINCT CASE WHEN o_orderstatus IN ('F','O') THEN o_custkey END) AS dc_union,
      COUNT(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END)
        + COUNT(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END)
        - COUNT(DISTINCT CASE WHEN o_orderstatus IN ('F','O') THEN o_custkey END) AS dc_intersect
    FROM orders
    """,
    doc="distinctCountThetaSketch set algebra "
    "(DistinctCountThetaSketchAggregationFunction.java:60-111): union / "
    "intersection of filtered sub-populations, computed EXACTLY via "
    "filtered distinct counts + inclusion-exclusion (the sketch is an "
    "approximation of precisely this).",
    tags=("aggregation", "sketch", "setops"),
)
def q_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    ck = F.col("o_custkey")
    st = F.col("o_orderstatus")
    dc = F.count_distinct
    dc_f = dc(F.when(st == "F", ck)).alias("dc_f")
    dc_o = dc(F.when(st == "O", ck)).alias("dc_o")
    dc_union = dc(F.when(st.isin("F", "O"), ck)).alias("dc_union")
    # |F ∩ O| = |F| + |O| - |F ∪ O|  (inclusion-exclusion, exact)
    dc_intersect = (
        dc(F.when(st == "F", ck))
        + dc(F.when(st == "O", ck))
        - dc(F.when(st.isin("F", "O"), ck))
    ).alias("dc_intersect")
    return od.agg(dc_f, dc_o, dc_union, dc_intersect)


@register(
    "q_hll_raw_sketch",
    oracle=None,  # binary sketches are engine-specific; estimate bounds in pytest
    doc="distinctCountRawHLL (AggregationFunctionType.java:47): mergeable "
    "binary HLL sketches via hll_sketch_agg + estimate extraction — the "
    "raw-sketch form users persist and re-merge across segments.",
    tags=("aggregation", "approx", "sketch"),
)
def q_hll_raw_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch")
    )
    # re-merge the per-group sketches (the segment->server->broker merge
    # path of the reference) and estimate
    return per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_distinct"),
        F.count(F.lit(1)).alias("n_sketches"),
    )


@register(
    "q_theta_ds_compat",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS theta_estimate
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="distinctCountRawThetaSketch in the DataSketches-compatible wire "
    "form (DistinctCountThetaSketchAggregationFunction.java:60-111 "
    "serializes org.apache.datasketches compact bytes): per-group compact "
    "ordered theta sketches (murmur3-x64-128, seed 9001, nominalEntries "
    "4096) built two-phase by raw_partial.digests_by_group in the public "
    "serVer-3 byte layout, then read back and estimated by Spark's "
    "bundled DataSketches (theta_sketch_estimate). The oracle is valid "
    "because below nominalEntries the sketch is EXACT by construction "
    "(theta == Long.MAX_VALUE, estimate == retained count) — true at the "
    "gate's sf0.01; the estimation regime is bounds-tested in "
    "tests/test_theta_ds.py.",
    tags=("aggregation", "sketch", "wire-format"),
)
def q_theta_ds_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.operators.raw_partial import (
        DigestSpec,
        digests_by_group,
    )

    li = _t(spark, sf_dir, "lineitem")
    # exactness precondition, asserted loudly (the same data-scale
    # coupling class the round-9 ADVICE flagged on the star-tree theta
    # row): the exact oracle only holds while per-group NDV <= k, which
    # sf0.1 already exceeds for l_partkey — raise instead of letting the
    # row silently rot if the gate SF ever grows
    k = 4096
    ndv = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("ndv"))
        .agg(F.max("ndv"))
        .collect()[0][0]
    )
    if ndv and ndv > k:
        raise RuntimeError(
            f"q_theta_ds_compat: per-group NDV {ndv} exceeds nominalEntries "
            f"{k} — sketches enter estimation mode and the exact oracle no "
            "longer applies at this SF (estimation accuracy is bounds-"
            "tested in tests/test_theta_ds.py)"
        )
    sk = digests_by_group(
        li, ["l_returnflag"], [DigestSpec("sketch", "l_partkey", "theta", k)]
    )
    return sk.select(
        "l_returnflag",
        F.theta_sketch_estimate("sketch").cast("double").alias("theta_estimate"),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT l_returnflag,
           array_to_string(
             [SUM(CASE WHEN l_quantity >= 0.0 AND l_quantity < 10.0 THEN 1 ELSE 0 END),
              SUM(CASE WHEN l_quantity >= 10.0 AND l_quantity < 20.0 THEN 1 ELSE 0 END),
              SUM(CASE WHEN l_quantity >= 20.0 AND l_quantity < 30.0 THEN 1 ELSE 0 END),
              SUM(CASE WHEN l_quantity >= 30.0 AND l_quantity < 40.0 THEN 1 ELSE 0 END),
              SUM(CASE WHEN l_quantity >= 40.0 AND l_quantity <= 50.0 THEN 1 ELSE 0 END)],
             ',') AS bins
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="HISTOGRAM aggregation (HistogramAggregationFunction.java:46-140): "
    "equal-width bins over [lower, upper], out-of-range values ignored, "
    "upper edge inclusive in the last bin. The dialect expands "
    "histogram(l_quantity, 0, 50, 5) to one sum(CASE) per bin, each with "
    "a map-side partial phase — shuffle volume stays O(groups x bins).",
    tags=("aggregation", "histogram"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.catalog.tables import register_views
    from hurricanedb_spark.sql.dialect import rewrite_functions

    register_views(spark, sf_dir)
    return spark.sql(
        rewrite_functions(
            "SELECT l_returnflag, "
            "array_join(transform(histogram(l_quantity, 0, 50, 5), "
            "x -> cast(x AS string)), ',') AS bins "
            "FROM lineitem GROUP BY l_returnflag"
        )
    )


@register(
    "q_mv_distinct_aggregates",
    oracle="""
    SELECT CAST(vec_id % 5 AS BIGINT) AS grp,
           CAST(len(list_distinct(flatten(list(embedding)))) AS INT) AS dc,
           CAST(MAX(list_max(embedding)) - MIN(list_min(embedding)) AS FLOAT) AS mmr,
           CAST(list_sort(flatten(list(embedding)))[
             CAST((len(flatten(list(embedding))) * 50) // 100 AS INT) + 1
           ] AS FLOAT) AS p50
    FROM embeddings
    GROUP BY vec_id % 5
    """,
    doc="MV-column aggregate family over array<float> embeddings "
    "(AggregationFunctionType *MV rows: DISTINCTCOUNTMV, MINMAXRANGEMV, "
    "PERCENTILEMV): distinct/percentile forms aggregate the flattened "
    "element multiset (collect_set of arrays -> flatten -> distinct; "
    "percentile uses the reference's index convention "
    "PercentileAggregationFunction.java:152-165 — 0-based "
    "size*p/100, p=100 -> last). minmaxrangemv stays fully decomposable "
    "(max of array_max / min of array_min partials).",
    tags=("aggregation", "mv"),
)
def q_mv_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hurricanedb_spark.catalog.tables import register_views
    from hurricanedb_spark.sql.dialect import rewrite_functions

    register_views(spark, sf_dir)
    return spark.sql(
        rewrite_functions(
            "SELECT CAST(vec_id % 5 AS BIGINT) AS grp, "
            "distinctcountmv(embedding) AS dc, "
            "CAST(minmaxrangemv(embedding) AS FLOAT) AS mmr, "
            "CAST(percentilemv(embedding, 50) AS FLOAT) AS p50 "
            "FROM embeddings GROUP BY vec_id % 5"
        )
    )
