"""Migration CLI: native v3 segment store <-> parquet.

The switch-over path for a user of the reference engine: point this at
a directory of segment dirs (the untarred deep-store layout) and get a
parquet table Spark reads natively — or export a parquet table back to
v3 segments. Decoding is distributed over min(#segments, cores) tasks,
each decoding the segments whose ids it holds (the reference's
CombineOperatorUtils cap); encoding writes one segment per partition
(sources/pinot_segment.py).

Usage:
  python tools/migrate_segments.py to-parquet  <segment_store_dir> <out.parquet> [col,col,...]
  python tools/migrate_segments.py to-segments <in.parquet> <out_segment_store_dir> [table_name]
  python tools/migrate_segments.py rebuild-text-index <segment_store_dir> [col,col,...]
  python tools/migrate_segments.py bench <sf_dir>   # decode-throughput measurement

rebuild-text-index regenerates `.nativetext.idx` (from the decoded
forward index) for every column a migrated segment declares
Lucene-text-indexed (a `{col}.lucene.index` directory — the one index
family whose binary format migration cannot decode) plus `.lucene.fst`
for dictionary columns whose fst_index bytes are not FSA5, so the
deployment regains accelerated TEXT_CONTAINS/TEXT_MATCH/regexp without
re-ingesting. Pass an explicit column list to force specific columns.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hurricanedb_spark.session import get_spark
from hurricanedb_spark.sources import pinot_segment as ps


def _segment_dirs(store: str) -> list[str]:
    segs = []
    for name in sorted(os.listdir(store)):
        p = os.path.join(store, name)
        if os.path.isdir(p):
            try:
                ps.read_segment_metadata(p)
            except FileNotFoundError:
                continue
            segs.append(p)
    if not segs:
        raise SystemExit(f"no segment directories under {store}")
    return segs


def to_parquet(store: str, out: str, columns: list[str] | None) -> None:
    spark = get_spark("segment-migration")
    segs = _segment_dirs(store)
    df = ps.read_segments(spark, segs, columns)
    df.write.mode("overwrite").parquet(out)
    n = spark.read.parquet(out).count()
    print(f"migrated {len(segs)} segments -> {out} ({n} rows)")


def to_segments(parquet: str, store: str, table: str) -> None:
    spark = get_spark("segment-migration")
    df = spark.read.parquet(parquet)
    paths = ps.export_segments(df, store, table, segment_prefix=table)
    print(f"exported {parquet} -> {len(paths)} segments under {store}")


def rebuild_text_index(store: str, columns: list[str] | None) -> None:
    from hurricanedb_spark.sources.native_text_index import rebuild_text_indexes

    total_text, total_fst = 0, 0
    for seg in _segment_dirs(store):
        # explicit columns force the TEXT rebuild; FST stays auto-detected
        # (unreadable fst_index bytes only)
        done = rebuild_text_indexes(seg, text_columns=columns)
        total_text += len(done["text"])
        total_fst += len(done["fst"])
        if done["text"] or done["fst"]:
            print(f"{seg}: text={done['text']} fst={done['fst']}")
    print(f"rebuilt {total_text} text + {total_fst} fst indexes")


def bench(sf_dir: str, replicate: int = 1) -> None:
    """Decode-throughput: lineitem -> segments once, then timed
    distributed decode (the migration path's scan rate). `replicate`
    unions the table N times first to measure scaling."""
    import json

    from pyspark.sql import functions as F

    spark = get_spark("segment-bench")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    for i in range(replicate - 1):
        li = li.unionAll(
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select(
                (F.col("l_orderkey") + (i + 1) * 10**9).alias("l_orderkey"),
                "l_partkey", "l_quantity", "l_returnflag", "l_linestatus",
            )
        )
    store = "/tmp/hurricanedb_segments/bench_" + os.path.basename(
        os.path.normpath(sf_dir)
    ) + (f"_x{replicate}" if replicate > 1 else "")
    if not os.path.isdir(store) or not os.listdir(store):
        ps.export_segments(li.repartition(16 * replicate), store, "lineitem")
    segs = _segment_dirs(store)
    t0 = time.time()
    n = ps.read_segments(spark, segs).count()
    dt = time.time() - t0
    t0 = time.time()
    n2 = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    parquet_dt = time.time() - t0
    print(
        json.dumps(
            {
                "metric": "segment_decode_rows_per_sec",
                "rows": n,
                "segments": len(segs),
                "decode_sec": round(dt, 3),
                "rows_per_sec": round(n / dt),
                "parquet_count_sec": round(parquet_dt, 3),
            }
        )
    )
    assert n == n2 * replicate, (n, n2, replicate)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "to-parquet":
        cols = sys.argv[4].split(",") if len(sys.argv) > 4 else None
        to_parquet(sys.argv[2], sys.argv[3], cols)
    elif cmd == "to-segments":
        to_segments(
            sys.argv[2], sys.argv[3], sys.argv[4] if len(sys.argv) > 4 else "table"
        )
    elif cmd == "rebuild-text-index":
        rebuild_text_index(
            sys.argv[2], sys.argv[3].split(",") if len(sys.argv) > 3 else None
        )
    elif cmd == "bench":
        bench(
            sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1",
            int(sys.argv[3]) if len(sys.argv) > 3 else 1,
        )
    else:
        raise SystemExit(__doc__)
