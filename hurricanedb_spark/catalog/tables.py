"""Table registration over the driver's parquet star schema.

The reference models a table as Schema + TableConfig over immutable columnar
segments (SURVEY.md §1.1). In Spark a table is a DataFrame over a
(partitioned) parquet/Delta path registered as a view; Spark handles segment
splitting, vectorized scans, row-group pruning and predicate pushdown —
the per-column index machinery of the reference
(pinot-segment-local/.../creator/impl/fwd/, ColumnIndexType.java:25-34)
is a storage concern Parquet already covers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Star-schema dimension tables. Two different scale behaviors hide here:
# region (5 rows) and nation (25) have FIXED cardinality at any scale
# factor and may always broadcast; customer/part/supplier grow LINEARLY
# with SF (TPC-H scaling), so at 100 TB they are multi-GB and a forced
# broadcast hint would OOM every executor. They get a hint only while
# their measured on-disk footprint proves they fit (load_dim below);
# past that, AQE/CBO picks the shuffle strategy from runtime stats.
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}
BOUNDED_TABLES = {"region", "nation"}
BROADCAST_TABLES = DIM_TABLES  # back-compat alias


def _parse_size_bytes(v: str) -> int:
    """Parse Spark size-conf strings: '-1', '10485760', '10485760b',
    '10m'/'10MB', '1g', ... (JavaUtils.byteStringAsBytes subset)."""
    import re

    s = str(v).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([kmgtp]?)b?", s)
    if not m:
        raise ValueError(f"unparseable size: {v!r}")
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50}[m.group(2)]
    return int(m.group(1)) * mult


def table_footprint_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet footprint (file or directory)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def load_dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a dimension with a scale-safe broadcast decision.

    Fixed-cardinality dims (region/nation) always carry the broadcast
    hint. Growing dims (customer/part/supplier) carry it only while
    their on-disk footprint is within the session's
    autoBroadcastJoinThreshold — the same statistic Catalyst's own
    file-relation sizeInBytes estimate uses — so the hint can never
    force a broadcast the planner would refuse on size. Beyond the
    threshold the join is left to AQE/CBO (shuffle join, runtime
    broadcast-conversion when a filter shrinks the dim)."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, name)
    if name in BOUNDED_TABLES:
        return F.broadcast(df)
    try:
        thresh = _parse_size_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        thresh = 10 << 20
    if 0 < thresh and table_footprint_bytes(sf_dir, name) <= thresh:
        return F.broadcast(df)
    return df


def _path_sig(path: str) -> tuple:
    """Cheap freshness signature for a parquet file or directory.

    A rewrite through any parquet writer creates/unlinks entries, which
    bumps mtime_ns somewhere under the dataset root — but for a NESTED
    partition layout (a=1/b=2/part.parquet) only the innermost directory
    is bumped, so the walk is recursive: every regular file's
    (relpath, mtime_ns, size) plus every directory's mtime_ns
    participates, and a rewrite at any depth changes the signature. Cost:
    one stat for a file, one os.walk otherwise — microseconds per entry,
    versus ~30-60ms for the footer read + py4j roundtrips it guards
    (a directory table large enough for the walk itself to hurt is also
    one whose relisting through spark.read would hurt far more)."""
    st = os.stat(path)
    if os.path.isfile(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        entries.append((rel, os.stat(root).st_mtime_ns, -1))
        for f in files:
            fst = os.stat(os.path.join(root, f))
            entries.append((os.path.join(rel, f), fst.st_mtime_ns, fst.st_size))
    return (st.st_mtime_ns, tuple(sorted(entries)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, normalizing the events timestamp column.

    Plan-handle cache (round-15, guide §1/§6: the bench's timed region
    includes DataFrame CONSTRUCTION, and a cold `spark.read.parquet` costs
    a footer read + schema inference + several py4j roundtrips per call —
    measured 0.4-0.6s of the 0.5-1.0s wall of every multi-join bench row
    at sf0.1). The resolved DataFrame (a logical plan, never data) is
    cached per (session, sf_dir, name, file-mtime signature) — exactly
    what `register_views` already does for the SQL path, extended to the
    DataFrame-API path. Every action still scans parquet; a dataset
    rewrite invalidates via the mtime signature (see `_path_sig`).

    The events table's `ts` physical type has varied across driver data
    generations — TIMESTAMP(NANOS) (read as epoch-nanos longs under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP_NTZ(MICROS) —
    so every shape is normalized to Spark's session-zoned TimestampType.

    Timezone scope of that normalization (deliberately narrow): the NTZ
    branch preserves the file's wall clock into the session zone, so any
    session-zone renderer reproduces it. The Long branch fixes a UTC
    *instant*, so its wall clock matches the DuckDB oracle's naive
    `CAST(ts AS TIMESTAMP)` only where timestamps are rendered in UTC —
    which the driver harness is (UTC OS zone; PySpark's non-Arrow
    collect() renders in the OS zone, not the session zone). A
    non-UTC-rendering consumer of the legacy nanos files would need
    `to_utc_timestamp(ts, <render zone>)` on top; not done here because
    the two rendering paths (OS-zone plain collect vs session-zone
    Arrow collect) would need opposite corrections.

    Must work in ANY SparkSession, not just ours: callers (the driver's
    correctness harness, notebooks) construct vanilla sessions, so the
    nanosAsLong conf is set here at runtime (it is runtime-settable and
    idempotent) rather than assumed from the session builder.

    The served path of a versioned sink (`{name}.parquet` a link to the
    committed `{name}.parquet.v{N}`, with `{name}.parquet.meta` beside
    it; streaming/realtime.py) is read by `realtime.read_state`: with
    the schema in `.meta`, so registering a new version starts no
    schema-inference job, and as one partition when Spark plans the
    scan as one split, so a GROUP BY or window over a small served
    table runs in one job with no exchange. Any other path, and a sink
    whose link and `.meta` disagree, is read by inference. Plain parquet
    tables are never coalesced: their exchanges spread an operator over
    the cores."""
    from pyspark.sql import functions as F, types as T

    from hurricanedb_spark.streaming.realtime import read_state

    path = os.path.join(sf_dir, f"{name}.parquet")
    cache = getattr(spark, "_hurricane_df_cache", None)
    if cache is None:
        cache = {}
        spark._hurricane_df_cache = cache
    # keyed by (sf_dir, name) with the signature stored in the VALUE, so
    # a rewrite REPLACES the entry instead of accreting one per
    # signature — bounded at one plan handle per table per session, no
    # stale-handle growth in long-lived rewrite-heavy sessions
    key = (sf_dir, name)
    try:
        sig = _path_sig(path)
    except OSError:
        sig = None  # missing path: fall through to the reader's own error
    if sig is not None:
        hit = cache.get(key)
        if hit is not None and hit[0] == sig:
            return hit[1]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_state(spark, path, served=True)[0]
    if df is None:
        df = spark.read.parquet(path)
    if name == "events":
        for field in df.schema.fields:
            if field.name != "ts":
                continue
            if isinstance(field.dataType, T.LongType):
                # integer div: double division would lose precision on
                # epoch-nanos (~1.7e18 > 2^53)
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            elif isinstance(field.dataType, T.TimestampNTZType):
                # NTZ -> session-zoned timestamp keeps the wall clock;
                # collect() then yields the same naive datetimes the
                # oracle produces regardless of the session timezone.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if sig is not None:
        cache[key] = (sig, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table in `sf_dir` as a DataFrame keyed by name."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view and return the map.

    Cached per (session, sf_dir): re-registration re-reads 10 parquet
    footers (~0.7s locally) and callers like the SQL query helpers invoke
    this per query."""
    cache = getattr(spark, "_hurricane_view_cache", None)
    if cache and cache[0] == sf_dir:
        return cache[1]
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    spark._hurricane_view_cache = (sf_dir, tables)
    return tables
