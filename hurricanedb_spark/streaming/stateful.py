"""Continuous per-key distinct count over a stream.

The reference's realtime servers maintain per-segment aggregation state
as events arrive (LLRealtimeSegmentDataManager ingestion; the
distinct-count family keeps sketches per consuming segment). Spark's
streaming aggregation keeps the same kind of state declaratively: a
`groupBy().agg()` in update mode stores each key's partial aggregate in
the state store and merges every micro-batch into it.

`streaming_theta_distinct` is that aggregate with Spark's bundled
DataSketches theta sketch (`theta_sketch_agg`) as the state, so per-key
state is bounded at O(K) hashes no matter how many events arrive. A
micro-batch's partial sketch is unioned into the stored one, so after any
number of micro-batches (or a restart from the checkpoint) each key's
sketch bytes are IDENTICAL to the batch `theta_sketch_agg` over the same
rows (asserted in tests/test_streaming_stateful.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hurricanedb_spark.operators.theta_ds import lg_k


def streaming_theta_distinct(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 1024,
) -> DataFrame:
    """Per-key continuous distinct-count estimate over a stream.

    Emits one row per key per micro-batch that touched it:
    (key, sketch binary, estimate bigint, n_seen bigint). `k` is the
    sketch's nominal entries (rounded up to a power of two); `n_seen`
    counts every row of the key, NULL values included, while NULL
    values take no sketch slot."""
    return (
        stream_df.groupBy(key_col)
        .agg(
            F.theta_sketch_agg(value_col, lg_k(k)).alias("sketch"),
            F.count(F.lit(1)).alias("n_seen"),
        )
        .select(
            key_col,
            "sketch",
            F.theta_sketch_estimate("sketch").alias("estimate"),
            "n_seen",
        )
    )
