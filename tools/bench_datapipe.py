"""Measure the LLM-training-pipeline operators at bench scale.

Times every `datapipe`-tagged registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) — dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard
/ connected components), ANN similarity (brute-force / LSH / IVF),
contamination, text analysis, sampling, sketches, multimodal plumbing —
and emits ONE JSON line `{"metric": "datapipe_bench", "queries": {...},
"sf": ...}` so per-round tracking uses the same 3-run-minima method as
the headline set (tools/bench_minima.py; BENCH.md training-pipeline
table).

Per query: one warm-up run, then median of 3 timed `.count()` runs
(same protocol as bench.py). The EXACT quadratic baselines
(q_ngram_jaccard_pairs, q_embedding_neardup) are guarded out past
sf0.1 by their registered row-count caps (round-11: the ngram row
burned 27 min/run in the r10 sf1 bench) — at sf>=1 they refuse loudly
and land in the JSON's `guarded` map with the named error, while the
LSH routes (q_minhash_lsh_dedup, q_embedding_neardup_lsh) are the
benched scale rows. Nothing is silently excluded.

Usage: python tools/bench_datapipe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _read_cpu_jiffies
from hurricanedb_spark.queries import all_queries
from hurricanedb_spark.session import get_spark

RUNS = 3


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("hurricanedb-datapipe-bench")
    # per-query wall budget: a query whose WARM-UP run alone exceeds this
    # is recorded from that single measured run instead of median-of-3 —
    # the documented quadratic baseline (q_ngram_jaccard_pairs) grows
    # ~100x per decade by design, and 4 full runs of it at sf>=1 would
    # dominate the whole bench. The single run is still a measurement;
    # the JSON names which rows were capped so nothing is silent.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "150"))
    # SPARK_GRAFT_BENCH_SKIP: comma-separated query names to leave out of
    # THIS invocation (recorded in the JSON, never silent) — used when a
    # documented super-linear baseline was already measured in an earlier
    # run of the same round and re-measuring it would dominate the wall.
    skip = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if s
    }
    reg = {n: q for n, q in all_queries().items() if "datapipe" in q.tags}
    jiffies0 = _read_cpu_jiffies()
    timings: dict[str, float] = {}
    guarded: dict[str, str] = {}
    single_run: dict[str, str] = {}
    skipped = sorted(skip & set(reg))
    for name in skipped:
        del reg[name]
    for name, qd in sorted(reg.items()):
        try:
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).count()  # warm-up
            warm = time.perf_counter() - t0
        except (RuntimeError, ValueError) as exc:
            # Designed data-scale preconditions (NDV/exactness guards,
            # QuadraticBlockError) fire loudly at sf>=1 — record the named
            # cause instead of dying so the decade table stays honest.
            guarded[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        if warm > budget:
            timings[name] = round(warm, 4)
            single_run[name] = (
                f"one measured run ({warm:.1f}s > {budget:.0f}s budget); "
                "not a median-of-3"
            )
            continue
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)
    out = {
        "metric": "datapipe_bench",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if guarded:
        out["guarded"] = guarded
    if single_run:
        out["single_run"] = single_run
    if skipped:
        out["skipped"] = skipped
    try:
        out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        out["loadavg"] = None
    # hypervisor steal across the timed window (round-16, additive —
    # same attribution field bench.py gained; loadavg cannot see steal)
    out["cpu_steal_pct"] = None
    jiffies1 = _read_cpu_jiffies()
    if jiffies0 and jiffies1 and jiffies1[0] > jiffies0[0]:
        out["cpu_steal_pct"] = round(
            100.0 * (jiffies1[1] - jiffies0[1]) / (jiffies1[0] - jiffies0[0]), 2
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
