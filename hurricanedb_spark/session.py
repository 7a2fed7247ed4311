"""SparkSession factory tuned for OLAP workloads.

Mirrors the reference's server-side execution defaults (per-segment
parallelism = min(numSegments, 2*cores) — pinot-core CombineOperatorUtils.java:38-49)
with Spark-native equivalents: AQE for runtime re-planning, partition
coalescing, and a shuffle-partition count sized to the machine rather than
Spark's legacy 200.

At 100 TB scale the same settings hold: AQE coalesces post-shuffle
partitions to `advisoryPartitionSizeInBytes`, skew-join splitting handles
hot keys, and broadcast joins keep dimension tables off the shuffle path.

Python workers start from `_pydaemon` rather than `pyspark.daemon`. On
Python < 3.13 PySpark's per-task `importlib.invalidate_caches()` makes
every zipimporter into pyspark.zip re-read the archive's directory, a
fixed cost of hundreds of milliseconds per task that dwarfs a small
`mapInPandas` decode. `_pydaemon` makes that invalidation lazy, as
CPython 3.13 does, and then runs the stock daemon; on 3.13+, or when
`zipimport`'s private names are missing, it only runs the daemon. The
package's parent directory is appended to the workers' PYTHONPATH so the
daemon module imports from any working directory. Sessions built
elsewhere (an existing SparkContext that `getOrCreate` returns) keep
the stock daemon and its per-task cost.

The JVM talks to the Python workers (and the driver to the JVM for
collects and accumulators) over Unix domain sockets, not loopback TCP,
where a task's small writes stall behind Nagle and delayed ACKs. On a
4-core x86 VM a one-task `mapInPandas` collect went from ~125 ms to
~93 ms, and a broker segment query's 13 tasks from 684 ms to 405 ms of
summed run time. A Unix socket has no auth handshake, so the sockets
live in a private (0700) directory, one per process. Spark takes a
socket directory of at most 61 characters, so that its socket names
fit AF_UNIX's 107-byte path; the directory is made under $TMPDIR when
that is short enough, else under /tmp.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the directory that holds the hurricanedb_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark rejects a longer spark.python.unix.domain.socket.dir
_SOCKET_DIR_MAX = 61
_socket_dir: str | None = None


def _unix_socket_dir() -> str:
    """This process's private (0700) directory for Spark's Unix sockets,
    made on first use and removed at exit."""
    global _socket_dir
    if _socket_dir is None:
        base = tempfile.gettempdir()
        if len(os.path.join(base, "hsp-12345678")) > _SOCKET_DIR_MAX:
            base = "/tmp"
        _socket_dir = tempfile.mkdtemp(prefix="hsp-", dir=base)
        atexit.register(shutil.rmtree, _socket_dir, True)
    return _socket_dir


def _default_driver_memory() -> str:
    """The driver heap when $HURRICANE_DRIVER_MEM is unset: 16g, or half
    of physical memory on a smaller host, so that the JVM heap cannot
    grow to the whole machine."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "hurricanedb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Honors $SPARK_GRAFT_CPUS for local core count (driver contract).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})
    worker_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sizing: ~cores locally; on a real cluster AQE coalesces
        # from this initial number down to advisory-sized partitions.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 24MB: large enough that every genuine dimension table
        # (customer/part/supplier/nation/region up to ~sf10 locally)
        # broadcasts, small enough that a column-pruned FACT scan whose
        # static estimate lands under the cap does not. Measured at sf1:
        # the 64MB setting let a 48MB-estimated filtered lineitem (5.6M
        # rows) broadcast in TPC-H Q3 — 3.46s vs 0.74s for the
        # sort-merge plan the same query gets at 24MB, and a broadcast
        # OOM at cluster scale. Fact-side broadcast is the one
        # scale-wrong plan a threshold can rule out (BENCH.md round-9).
        .config("spark.sql.autoBroadcastJoinThreshold", str(24 * 1024 * 1024))
        # oracle comparability: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events table stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("HURRICANE_DRIVER_MEM") or _default_driver_memory(),
        )
        # Python workers and their sockets: see the module docstring
        .config("spark.python.daemon.module", "hurricanedb_spark._pydaemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (worker_path, _PACKAGE_PARENT) if p),
        )
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _unix_socket_dir())
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
