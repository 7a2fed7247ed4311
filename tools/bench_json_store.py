"""Measure the segment-store index access paths at bench scale.

Emits ONE JSON line `{"metric": "segment_store_bench", "queries":
{...}, "sf": ...}` so per-round tracking uses the same 3-run-minima
method as the headline set (tools/bench_minima.py; BENCH.md table
"Segment-store index paths").

1. JSON-index access path: events (sf0.1, 1M rows) exported to 16
   segments RANGE-PARTITIONED on the json value `$.k` with a `.json.idx`
   per segment, then one selective JSON_MATCH equality measured through
   (a) the full expression scan and (b) the index path
   (read_segments_json_match: segment skip + docId allowlist + exact
   residual). Correctness asserted (both counts equal) before timing.

2. Raw-MV + V4 decode throughput: documents text stored as raw V4
   var-byte chunks plus a synthetic int64 MV column stored raw,
   replicated to ~500k rows across 16 segments, one distributed decode
   + aggregate measured.

Usage: python tools/bench_json_store.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import _read_cpu_jiffies
from hurricanedb_spark.catalog.tables import load_table
from hurricanedb_spark.session import get_spark
from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sources.json_index import read_segments_json_match
from hurricanedb_spark.sql.json_match import translate_json_match


def bench_json_index(spark, sf_dir: str, base: str) -> dict:
    # SPARK_GRAFT_JSON_REPS=N replicates events N-fold (and scales the
    # segment count to keep ~62k rows/segment) to show the skip ratio is
    # the scaling lever while index lookups stay O(#segments)
    reps = int(os.environ.get("SPARK_GRAFT_JSON_REPS", "1"))
    n_segs = 16 * reps
    store = os.path.join(base, f"events_json_ranged_x{reps}")
    if not os.path.isdir(store):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "props"
        )
        if reps > 1:
            ev = ev.crossJoin(
                spark.range(reps).select(F.col("id").alias("__rep"))
            ).drop("__rep")
        keyed = ev.withColumn(
            "__k", F.expr("CAST(get_json_object(props, '$.k') AS INT)")
        )
        t0 = time.perf_counter()
        ps.export_segments(
            keyed.repartitionByRange(n_segs, "__k").drop("__k"),
            store,
            json_index_columns=["props"],
        )
        print(
            f"build: {n_segs} json-indexed segments "
            f"in {time.perf_counter()-t0:.1f}s"
        )
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )
    cond = '"$.k" = \'37\''
    expr = F.expr(translate_json_match("props", cond))

    def timed(fn, label):
        fn()  # warm
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s ({n} rows)")
        return n, dt

    n_scan, t_scan = timed(
        lambda: ps.read_segments(spark, segs).filter(expr).count(),
        f"expression scan (all {len(segs)} segments decode)",
    )
    accel = read_segments_json_match(spark, segs, "props", cond)
    n_idx, t_idx = timed(lambda: accel.count(), "json-index path")
    surviving = accel.rdd.getNumPartitions()
    assert n_scan == n_idx, (n_scan, n_idx)
    print(
        f"segments decoded: {len(segs)} -> {surviving}; "
        f"speedup {t_scan / t_idx:.1f}x"
    )
    return {"json_scan": round(t_scan, 4), "json_index": round(t_idx, 4)}


def bench_raw_mv_v4(spark, sf_dir: str, base: str) -> dict:
    store = os.path.join(base, "docs_raw_v4")
    reps = 100
    if not os.path.isdir(store):
        doc = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars"
        )
        big = doc.crossJoin(
            spark.range(reps).select(F.col("id").alias("rep"))
        ).select(
            (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
            "text",
            "n_chars",
            F.array(
                F.col("doc_id"), F.col("n_chars"), (F.col("doc_id") % 97)
            ).alias("mv"),
        )
        t0 = time.perf_counter()
        ps.export_segments(
            big.repartition(16), store,
            raw_columns={"text": "LZ4", "mv": "LZ4"},
            raw_writer_versions={"text": 4},
        )
        print(f"build: 16 raw-V4+MV segments in {time.perf_counter()-t0:.1f}s")
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )
    size_mb = sum(
        os.path.getsize(os.path.join(r, f))
        for s in segs
        for r, _, fs in os.walk(s)
        for f in fs
    ) / 1e6
    df = ps.read_segments(spark, segs)
    df.count()  # warm
    t0 = time.perf_counter()
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.element_at("mv", 2)).alias("mv2"),
    ).collect()[0]
    dt = time.perf_counter() - t0
    assert row["chars"] == row["mv2"]  # mv[1] == n_chars by construction
    print(
        f"raw-V4+MV decode: {row['n']} rows / {size_mb:.0f} MB on disk in "
        f"{dt:.2f}s = {row['n']/dt/1e6:.2f}M rows/s"
    )
    # ADDITIVE row (round-16, r15 verdict #5): the same aggregate asked
    # through the SQL surface, where the dialect's per-query column
    # pruning reaches the decode — the raw V4 text column (the bulk of
    # the store) is never decoded or Arrow-shipped. rawv4_decode above
    # keeps its meaning as the designed full-decode throughput row.
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hq = HurricaneSQL(spark)
    hq.register_segment_table("rawv4_bench", store)
    q = "SELECT COUNT(*) AS n, SUM(n_chars) AS chars FROM rawv4_bench"
    prow = hq.sql(q, default_limit=None).collect()[0]  # warm
    assert prow["n"] == row["n"] and prow["chars"] == row["chars"]
    assert hq.last_column_prune == ("rawv4_bench", ["n_chars"])
    t0 = time.perf_counter()
    hq.sql(q, default_limit=None).collect()
    dt_pruned = time.perf_counter() - t0
    print(
        f"raw-V4+MV pruned SQL agg (n_chars only decoded): {dt_pruned:.2f}s "
        f"({dt/dt_pruned:.1f}x vs full decode)"
    )
    return {
        "rawv4_decode": round(dt, 4),
        "rawv4_pruned_sql_agg": round(dt_pruned, 4),
    }


def bench_text_match(spark, sf_dir: str, base: str) -> dict:
    """TEXT_MATCH boolean query: expression scan vs native-text-index
    path (AND posting intersect + residual) over a 16-segment store."""
    import json as _json

    from hurricanedb_spark.sources.native_text_index import (
        read_segments_text_match,
    )
    from hurricanedb_spark.sql.text_match import translate_text_match

    store = os.path.join(base, "docs_text_idx")
    if not os.path.isdir(store):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text", "n_chars"
        )
        t0 = time.perf_counter()
        ps.export_segments(
            docs.repartition(16), store, text_index_columns=["text"]
        )
        print(f"build: 16 text-indexed segments in {time.perf_counter()-t0:.1f}s")
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )
    lucene = "spark AND merge"
    expr = F.expr(translate_text_match("text", lucene))

    def timed(fn, label):
        fn()
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s ({n} rows)")
        return n, dt

    n_scan, t_scan = timed(
        lambda: ps.read_segments(spark, segs).filter(expr).count(),
        f"TEXT_MATCH expression scan ({len(segs)} segments decode)",
    )
    accel = read_segments_text_match(spark, segs, "text", lucene)
    n_idx, t_idx = timed(lambda: accel.count(), "TEXT_MATCH text-index path")
    assert n_scan == n_idx, (n_scan, n_idx)
    return {"textmatch_scan": round(t_scan, 4), "textmatch_index": round(t_idx, 4)}


def bench_compose(spark, sf_dir: str, base: str) -> dict:
    """AND-composed index access (read_segments(bounds=...)): documents
    with BOTH a json index (synthetic props, range-partitioned on $.k —
    segment-selective) and a native text index, queried with
    JSON_MATCH(...) AND TEXT_MATCH(...). Composed allowlist intersection
    vs the expression scan and vs the better single-index path —
    equality asserted before timing."""
    from hurricanedb_spark.sources.json_index import (
        json_match_segment_docs,
        read_segments_json_match,
    )
    from hurricanedb_spark.sources.native_text_index import (
        read_segments_text_match,
        text_match_segment_docs,
    )
    from hurricanedb_spark.sql.json_match import translate_json_match
    from hurricanedb_spark.sql.text_match import translate_text_match

    store = os.path.join(base, "docs_multi_idx")
    if not os.path.isdir(store):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        ).withColumn(
            "props",
            F.concat(
                F.lit('{"lang": "'), F.col("lang"), F.lit('", "k": '),
                (F.col("doc_id") % 50).cast("string"), F.lit("}"),
            ),
        )
        t0 = time.perf_counter()
        ps.export_segments(
            docs.withColumn("__k", F.col("doc_id") % 50)
            .repartitionByRange(16, "__k").drop("__k"),
            store,
            json_index_columns=["props"],
            text_index_columns=["text"],
        )
        print(f"build: 16 dual-indexed segments in {time.perf_counter()-t0:.1f}s")
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )
    cond = '"$.k" = \'7\''
    lucene = "spark"
    residual = (
        f"({translate_json_match('props', cond)}) AND "
        f"({translate_text_match('text', lucene)})"
    )

    def timed(fn, label):
        fn()
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s ({n} rows)")
        return n, dt

    n_scan, t_scan = timed(
        lambda: ps.read_segments(spark, segs).filter(F.expr(residual)).count(),
        f"composed expression scan ({len(segs)} segments decode)",
    )
    n_json, t_json = timed(
        lambda: read_segments_json_match(spark, segs, "props", cond)
        .filter(F.expr(residual)).count(),
        "json-only path + residual",
    )
    n_text, t_text = timed(
        lambda: read_segments_text_match(spark, segs, "text", lucene)
        .filter(F.expr(residual)).count(),
        "text-only path + residual",
    )
    composed = ps.read_segments(
        spark,
        segs,
        bounds=[
            lambda s: json_match_segment_docs(s, "props", cond),
            lambda s: text_match_segment_docs(s, "text", lucene),
        ],
        residual=residual,
    )
    n_both, t_both = timed(lambda: composed.count(), "AND-composed path")
    assert n_scan == n_json == n_text == n_both, (n_scan, n_json, n_text, n_both)
    return {
        "compose_scan": round(t_scan, 4),
        "compose_json_only": round(t_json, 4),
        "compose_text_only": round(t_text, 4),
        "compose_both": round(t_both, 4),
    }


def bench_startree(spark, sf_dir: str, base: str) -> dict:
    """Fitting aggregation: raw-doc scan+agg vs the star-tree pre-agg
    path (read_segments_star_tree) over a 4-segment orders store.
    SPARK_GRAFT_ST_REPS=N replicates the rows N-fold into the SAME 4
    segments: tree records stay bounded by group cardinality per segment
    while the scan decodes N x the docs — the decade measurement for the
    tree path (BENCH.md segment-store table)."""
    from hurricanedb_spark.sources import startree_v2 as st

    reps = int(os.environ.get("SPARK_GRAFT_ST_REPS", "1"))
    store = os.path.join(base, f"orders_st_x{reps}" if reps > 1 else "orders_st")
    if not os.path.isdir(store):
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
        ).withColumn(
            "cents",
            F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"),
        ).drop("o_totalprice")
        if reps > 1:
            od = od.crossJoin(
                spark.range(reps).select(F.col("id").alias("__rep"))
            ).withColumn(
                "o_orderkey", F.col("o_orderkey") * reps + F.col("__rep")
            ).drop("__rep")
        t0 = time.perf_counter()
        # trees built inside each export task — the scale path
        ps.export_segments(
            od.repartition(4),
            store,
            star_tree_specs=[
                st.StarTreeSpec(
                    split_order=["o_orderpriority", "o_orderstatus"],
                    function_column_pairs=["count__*", "sum__cents"],
                    max_leaf_records=100,
                )
            ],
        )
        print(f"build: 4 star-tree segments in {time.perf_counter()-t0:.1f}s")
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )

    def scan():
        return (
            ps.read_segments(spark, segs, ["o_orderpriority", "o_orderstatus", "cents"])
            .groupBy("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
            .collect()
        )

    def tree():
        return (
            st.read_segments_star_tree(
                spark, segs, ["o_orderpriority", "o_orderstatus"],
                ["count__*", "sum__cents"],
            )
            .groupBy("o_orderpriority", "o_orderstatus")
            .agg(
                F.sum("__st_count_star").alias("n"),
                F.sum("__st_sum_cents").alias("s"),
            )
            .collect()
        )

    scan_rows = {tuple(r)[:2]: tuple(r)[2:] for r in scan()}
    t0 = time.perf_counter()
    scan_rows = {tuple(r)[:2]: tuple(r)[2:] for r in scan()}
    t_scan = time.perf_counter() - t0
    tree_rows = {tuple(r)[:2]: tuple(r)[2:] for r in tree()}
    t0 = time.perf_counter()
    tree_rows = {tuple(r)[:2]: tuple(r)[2:] for r in tree()}
    t_tree = time.perf_counter() - t0
    assert scan_rows == tree_rows
    print(
        f"star-tree agg: scan {t_scan:.2f}s vs tree {t_tree:.2f}s "
        f"({t_scan / t_tree:.1f}x)"
    )
    return {"startree_scan": round(t_scan, 4), "startree_tree": round(t_tree, 4)}


def bench_bitmap_distinct(spark, sf_dir: str, base: str) -> dict:
    """EXACT distinct counts from the star-tree's distinctCountBitmap
    pairs (transparent SQL redirect) vs count(DISTINCT) over the raw
    segment scan — equality asserted (both exact) before timing."""
    from hurricanedb_spark.sql.dialect import HurricaneSQL
    from hurricanedb_spark.sources import startree_v2 as st

    store = os.path.join(base, "orders_bitmap_st")
    if not os.path.isdir(store):
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_orderstatus", "o_custkey"
        ).withColumn("o_custkey", F.col("o_custkey").cast("int"))
        t0 = time.perf_counter()
        ps.export_segments(
            od.repartition(4),
            store,
            star_tree_specs=[
                st.StarTreeSpec(
                    split_order=["o_orderpriority", "o_orderstatus"],
                    function_column_pairs=[
                        "count__*",
                        "distinctcountbitmap__o_custkey",
                    ],
                    max_leaf_records=100,
                )
            ],
        )
        print(f"build: 4 bitmap star-tree segments in {time.perf_counter()-t0:.1f}s")
    segs = sorted(
        os.path.join(store, d)
        for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
    )

    def timed(fn, label):
        fn()
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        print(f"{label}: {dt:.2f}s ({n} rows)")
        return n, dt

    def scan():
        return dict(
            (r["o_orderpriority"], r["n"])
            for r in ps.read_segments(
                spark, segs, ["o_orderpriority", "o_custkey"]
            )
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        )

    hq = HurricaneSQL(spark)
    hq.register_segment_table("orders_bitmap_bench", store)

    def tree():
        out = dict(
            (r["o_orderpriority"], r["dc"])
            for r in hq.sql(
                "SELECT o_orderpriority, DISTINCTCOUNT(o_custkey) AS dc "
                "FROM orders_bitmap_bench GROUP BY o_orderpriority "
                "LIMIT 100"
            ).collect()
        )
        assert hq.last_star_tree_redirect is not None
        return out

    scan_rows = scan()
    tree_rows = tree()
    assert scan_rows == tree_rows, "bitmap tree distinct must be EXACT"
    _, t_scan = timed(lambda: len(scan()), "count(DISTINCT) raw scan")
    _, t_tree = timed(lambda: len(tree()), "bitmap tree redirect")
    return {
        "bitmap_distinct_scan": round(t_scan, 4),
        "bitmap_distinct_tree": round(t_tree, 4),
    }


def main() -> int:
    import json as _json

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # key the store cache by sf so runs at different scale factors never
    # reuse each other's segments
    base = "/tmp/hurricanedb_segments/bench_store_" + os.path.basename(
        os.path.normpath(sf_dir)
    )
    spark = get_spark("bench-json-store")
    jiffies0 = _read_cpu_jiffies()
    timings = {}
    timings.update(bench_json_index(spark, sf_dir, base))
    timings.update(bench_raw_mv_v4(spark, sf_dir, base))
    timings.update(bench_text_match(spark, sf_dir, base))
    timings.update(bench_compose(spark, sf_dir, base))
    timings.update(bench_startree(spark, sf_dir, base))
    timings.update(bench_bitmap_distinct(spark, sf_dir, base))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        _json.dumps(
            {
                "metric": "segment_store_bench",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "loadavg": _loadavg(),
                "cpu_steal_pct": _steal_pct(jiffies0),
            }
        )
    )
    return 0


def _loadavg():
    import os

    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        return None


def _steal_pct(jiffies0):
    # hypervisor steal across the timed window (round-16, additive —
    # same attribution field bench.py gained; loadavg cannot see steal)
    jiffies1 = _read_cpu_jiffies()
    if jiffies0 and jiffies1 and jiffies1[0] > jiffies0[0]:
        return round(
            100.0 * (jiffies1[1] - jiffies0[1]) / (jiffies1[0] - jiffies0[0]), 2
        )
    return None


if __name__ == "__main__":
    sys.exit(main())
