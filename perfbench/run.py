"""Run one workload of the benchmark and print one JSON result line.

    python3 perfbench/run.py --workload segment_index --seed 1 --seconds 15 --trace 0

The workloads, metric names and units come from BENCHMARK.json at the
checkout root. With --trace 0 the result holds the end-to-end metrics;
with --trace 1 the per-layer ones. Per-request samples (latency, answer
check, CPU steal) go to .perfbench_out/ as JSON lines. Spark's scratch
files live in .perfbench_work/ and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# setup_s is the median of SETUP_REPS set-ups made after the load, on a
# warm JVM. The run's first set-up, on a cold JVM, still climbs the JIT's
# warm-up slope for several repetitions, so it is left out.
SETUP_REPS = 3
SETUP_LAYERS = ("catalog.register_s", "sources.export_s")
# A pass that saw more CPU steal than this is timed only when fewer than
# half of the run's passes saw less. On a shared host, steal comes in
# bursts of tens of seconds that slow every request by a third or more.
QUIET_STEAL_PCT = 2.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work_dir: str) -> None:
    """Make the checkout's package importable here and in Spark's Python
    workers, and keep every temporary file inside the checkout."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def run(args, spec: dict, work_dir: str) -> dict:
    from harness import Engine
    from measure import (
        least_stolen, loadavg1, peak_rss_mb, percentile, read_cpu_jiffies, samples_beyond,
        steal_pct,
    )
    from workloads import WORKLOADS

    t_run = time.perf_counter()
    engine = Engine(work_dir)
    phases = {"engine": time.perf_counter() - t_run}
    workload = None
    try:
        workload = WORKLOADS[args.workload](engine, args.seed, bool(args.trace))

        def timed_setup(rep: int) -> float:
            workload.write_inputs(rep)
            t0 = time.perf_counter()
            workload.setup(rep)
            return time.perf_counter() - t0

        cold_setup_s = timed_setup(0)
        t0 = time.perf_counter()
        workload.prepare()
        j0 = read_cpu_jiffies()
        t1 = time.perf_counter()
        res = workload.measure(args.seconds)
        steal = steal_pct(j0, read_cpu_jiffies())
        rss, rss_py = peak_rss_mb(engine.jvm.pid), peak_rss_mb(None)
        t2 = time.perf_counter()
        phases.update(prepare=t1 - t0, measure=t2 - t1)
        setup_s, setup_layers = [], {}
        for rep in range(1, 1 + SETUP_REPS):
            setup_s.append(timed_setup(rep))
            for key in SETUP_LAYERS:
                if key in workload.layers:
                    setup_layers.setdefault(key, []).append(workload.layers[key])
        phases["setup_reps"] = time.perf_counter() - t2
    finally:
        t0 = time.perf_counter()
        if workload is not None:
            workload.close()
        engine.stop()
        phases["stop"] = time.perf_counter() - t0

    # Timings come from the passes the hypervisor left alone (see
    # least_stolen); correctness counts every request. Pass times are
    # picked by the steal over the whole pass, latencies by the steal over
    # the pass's requests: an ingest step spends most of its time in the
    # commit, outside the reads.
    passes = [res.passes[i] for i in least_stolen(
        [p.steal_pct for p in res.passes], QUIET_STEAL_PCT)]
    by_pass: dict[tuple[int, int], list] = {(p.client, p.no): [] for p in res.passes}
    for s in res.samples:
        if (s.client, s.pass_no) in by_pass:  # the traced operator pass is not one
            by_pass[(s.client, s.pass_no)].append(s)
    groups = list(by_pass.values())
    request_steal = [sum(s.steal_pct * s.latency_s for s in g) / sum(s.latency_s for s in g)
                     for g in groups]
    lat_ms = [s.latency_s * 1e3 for i in least_stolen(request_steal, QUIET_STEAL_PCT)
              for s in groups[i]]
    ok = sum(s.ok for s in res.samples)
    values = {
        "setup_s": statistics.median(setup_s),
        # One client: its timed passes run back to back.
        "qps": sum(s.ok for p in passes for s in by_pass[(p.client, p.no)])
        / sum(p.seconds for p in passes),
        "latency_p50_ms": percentile(lat_ms, 50),
        "latency_p90_ms": percentile(lat_ms, 90),
        "pass_s": statistics.median(p.seconds for p in passes),
        "peak_rss_mb": rss,
    }
    if args.trace:
        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        values.update(workload.layers)
        values.update({k: statistics.median(v) for k, v in setup_layers.items()})
        values["host.steal_pct"] = steal
        values["host.loadavg1"] = loadavg1()
    metrics_spec = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in metrics_spec}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"
    with open(os.path.join(out_dir, name), "w") as f:
        for s in res.samples:
            f.write(json.dumps(asdict(s)) + "\n")
    failed = len(res.samples) - ok
    print(f"[perfbench] {args.workload}: {len(res.samples)} requests, {len(lat_ms)} timed "
          f"({samples_beyond(len(lat_ms), 90)} beyond p90), {failed} failed, "
          f"{len(passes)} of {len(res.passes)} passes timed, steal {steal:.2f}% "
          f"(passes {min(p.steal_pct for p in res.passes):.1f}-"
          f"{max(p.steal_pct for p in res.passes):.1f}%), rss {rss:.0f} MB "
          f"(python {rss_py:.0f}); setup cold {cold_setup_s:.1f}, warm "
          + " ".join(f"{x:.2f}" for x in setup_s) + "; "
          + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    for s in res.samples:
        if not s.ok:
            print(f"[perfbench] failed {s.name}: {s.error}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(res.samples),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in metrics_spec
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hurricanedb_spark", "__init__.py")):
        print(f"perfbench: no hurricanedb_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work_dir)
    try:
        result = run(args, spec, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
