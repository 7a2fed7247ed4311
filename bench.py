"""Benchmark runner (driver contract).

Runs the headline query set (bench=True in the registry: the 7 pinot-druid
queries, ALL 13 SSB queries, TPC-H Q1, join/filter shapes — 26 total
since round 9; BASELINE.md names the pinot-druid + full-SSB sets as the
reference's own bench surface) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Timing: per query, one warm-up run then median of 3 timed runs; the
DataFrame is materialized via count() on a cached-free plan (results are
small aggregates; collect would measure the same thing).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hurricanedb_spark.queries import all_queries
from hurricanedb_spark.session import get_spark

RUNS = 3


def _read_cpu_jiffies():
    """(total, steal) jiffies from /proc/stat — None where unsupported.
    The total sums user..steal only: guest and guest_nice are already
    counted inside user and nice."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:9]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:  # pragma: no cover — non-Linux
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # regime experiments (e.g. forcing the non-broadcast plans measured in
    # BENCH.md): SPARK_GRAFT_EXTRA_CONF='{"spark.sql.autoBroadcastJoinThreshold":"10485760"}'
    extra = json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}"))
    spark = get_spark("hurricanedb-bench", extra_conf=extra)

    reg = {n: q for n, q in all_queries().items() if q.bench}
    jiffies0 = _read_cpu_jiffies()
    timings: dict[str, float] = {}
    for name, qd in sorted(reg.items()):
        qd.fn(spark, sf_dir).count()  # warm-up: JIT, page cache, plan cache
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)

    total = round(sum(timings.values()), 4)
    try:
        # host load (1/5/15-min averages) recorded in the artifact so
        # the documented ±15-40% inter-session drift is attributable
        # from the JSON itself (round-15, r14 verdict #7)
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover — platform without getloadavg
        loadavg = None
    # hypervisor steal across the timed window (round-16, additive like
    # loadavg was in r15): loadavg only sees THIS guest's runnable
    # processes — r16 measured 30-60s bursts of 3-6 stolen CPU-sec/sec
    # from co-tenants on an idle-loadavg host, which is exactly the
    # contamination mode that poisoned the r15 headline record.
    steal_pct = None
    jiffies1 = _read_cpu_jiffies()
    if jiffies0 and jiffies1 and jiffies1[0] > jiffies0[0]:
        steal_pct = round(
            100.0 * (jiffies1[1] - jiffies0[1]) / (jiffies1[0] - jiffies0[0]), 2
        )
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "loadavg": loadavg,
                "cpu_steal_pct": steal_pct,
            }
        )
    )


if __name__ == "__main__":
    main()
