"""The workloads. Each one loads mostly one layer of the repo:

  segment_index  broker -> the dialect's index rewrites -> Catalyst -> the
                 segment decode; its traced run also times the
                 LLM-pipeline operators
  ingest_upsert  the streaming upsert sink, then reads through the broker

A workload has `write_inputs(rep)` (the benchmark writes its generated
inputs, untimed), `setup(rep)` (the program's set-up, timed and repeated
for setup_s), `prepare()` (expected answers and warm-up, untimed) and
`measure(seconds)`.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import datagen
from harness import (
    Broker, Engine, LoadResult, Pass, Request, Sample, TracedSQL, check_response,
    clean_dir, closed_loop, post_sql,
)
from measure import (
    canonical_rows, percentile, read_cpu_jiffies, same_answer, steal_pct, with_limit,
)

# The LLM-pipeline operators. Timed only in segment_index's traced run:
# on 4 cores one cold and one warm pass take about 50 s even over 600
# documents, too long for a workload of their own.
DATAPIPE_QUERIES = ("q_dedup_clean_corpus", "q_dedup_components", "q_minhash_lsh_dedup",
                    "q_ann_ivf_topk", "q_embedding_neardup_lsh", "q_contamination_ngram",
                    "q_simhash")
_ROUND_ROBIN_RE = re.compile(r"RoundRobinPartitioning\((\d+)\)")
WARM_CLIENTS = 4


def in_parallel(fn, items) -> list:
    """fn over items on WARM_CLIENTS threads (Spark runs their jobs
    concurrently); used for the untimed expected answers."""
    with ThreadPoolExecutor(WARM_CLIENTS) as pool:
        return list(pool.map(fn, items))


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Workload:
    def __init__(self, engine: Engine, seed: int, trace: bool):
        self.engine, self.seed, self.trace = engine, seed, trace
        self.layers: dict[str, float] = {}
        self.traced: TracedSQL | None = None
        self.broker: Broker | None = None

    def work(self, *parts: str) -> str:
        return os.path.join(self.engine.work_dir, *parts)

    def close(self) -> None:
        if self.broker is not None:
            self.broker.close()

    # -- broker workloads ---------------------------------------------------

    def serve(self, hdb) -> None:
        if self.trace:
            self.traced = TracedSQL(hdb, self.engine)
            hdb = self.traced
        self.broker = Broker(hdb)

    def load(self, seconds: float) -> LoadResult:
        return closed_loop(self.broker.port, [self.mix], seconds, self.seed)

    def warm_up(self, rounds: int) -> None:
        """`rounds` untimed passes over the mix, spread over WARM_CLIENTS
        connections; a wrong answer here fails the run."""
        shares = [(self.mix * rounds)[i::WARM_CLIENTS] for i in range(WARM_CLIENTS)]
        res = closed_loop(self.broker.port, [m for m in shares if m], 0.0, self.seed)
        bad = [f"{s.name}: {s.error}" for s in res.samples if not s.ok]
        if bad:
            raise RuntimeError(f"warm-up pass failed: {bad[:3]}")
        if self.traced is not None:
            self.traced.reset()

    def broker_layers(self, samples_ms: list[float]) -> None:
        """Per-request layer metrics of a traced broker run."""
        recs = self.traced.finish()
        served = [r["sql_ms"] + r.get("collect_ms", 0.0) for r in recs]
        bookkeeping_ms = self.traced.bookkeeping_s() * 1e3 / max(1, len(recs))
        self.layers.update({
            "sql.server.overhead_ms": statistics.fmean(samples_ms)
            - statistics.fmean(served) - bookkeeping_ms,
            "sql.dialect.python_ms": median([r["sql_ms"] - r["analyze_ms"] for r in recs]),
            "sql.dialect.spark_sql_calls": median([r["spark_sql_calls"] for r in recs]),
            "sql.dialect.analyze_ms": median([r["analyze_ms"] for r in recs]),
            "sql.dialect.accel_fired": sum(r["access"] != "SCAN" for r in recs) / len(recs),
            "spark.catalyst.analysis_ms": statistics.fmean([r["analysis_ms"] for r in recs]),
            "spark.catalyst.optimization_ms": statistics.fmean([r["optimization_ms"] for r in recs]),
            "spark.catalyst.planning_ms": statistics.fmean([r["planning_ms"] for r in recs]),
            "spark.exec.collect_ms": median([r.get("collect_ms", 0.0) for r in recs]),
            "trace.overhead_pct": 100.0 * bookkeeping_ms / statistics.fmean(samples_ms),
            "trace.latency_p50_ms": percentile(samples_ms, 50),
        })
        for key in ("jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                    "shuffle_write_bytes"):
            self.layers[f"spark.exec.{key}"] = median([r[key] for r in recs])
        # Spark reports phase and task times in whole milliseconds; their
        # means keep the sub-millisecond differences that medians round off.
        self.layers["spark.exec.task_run_ms"] = statistics.fmean([r["task_run_ms"] for r in recs])


class SegmentIndex(Workload):
    """1 closed-loop client sends index-shaped dialect SQL through the
    broker to a native segment store with text, json and star-tree
    indexes. Each query's answer is checked against the same SQL over the
    parquet copy of the data, where every predicate is an expression scan."""

    n_docs = 4000
    n_segments = 8
    n_pipeline_docs = 600
    n_pipeline_vectors = 1000
    queries = {
        "text_match": "SELECT COUNT(*) AS n, SUM(n_chars) AS chars FROM {t} "
                      "WHERE TEXT_MATCH(text, 'dup AND merge')",
        "json_match": "SELECT lang, COUNT(*) AS n FROM {t} "
                      "WHERE JSON_MATCH(props, '\"$.k\" = ''7''') GROUP BY lang",
        "json_and_text": "SELECT COUNT(*) AS n, SUM(n_chars) AS chars FROM {t} "
                         "WHERE JSON_MATCH(props, '\"$.k\" = ''11''') "
                         "AND TEXT_MATCH(text, 'spark')",
        "star_tree": "SELECT lang, source, COUNT(*) AS n, SUM(n_chars) AS chars "
                     "FROM {t} GROUP BY lang, source",
        "pruned_agg": "SELECT COUNT(*) AS n, MAX(doc_id) AS top, SUM(n_chars) AS chars "
                      "FROM {t} WHERE source = 'src3'",
        "like_scan": "SELECT lang, COUNT(*) AS n FROM {t} "
                     "WHERE text LIKE '%dup spark%' GROUP BY lang",
    }

    def __init__(self, engine, seed, trace):
        super().__init__(engine, seed, trace)
        docs = datagen.documents(self.n_docs, seed, dup_frac=0.05)
        docs["props"] = [
            json.dumps({"lang": lang, "k": int(i) % 50})
            for i, lang in zip(docs["doc_id"], docs["lang"])
        ]
        self.docs = docs

    def write_inputs(self, rep: int) -> None:
        self.root = clean_dir(self.work(f"segments-{rep}"))
        datagen.write_table(self.docs, os.path.join(self.root, "docs.parquet"))

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from hurricanedb_spark.catalog.tables import load_table
        from hurricanedb_spark.sources import pinot_segment as ps
        from hurricanedb_spark.sources import startree_v2 as st
        from hurricanedb_spark.sql.dialect import HurricaneSQL

        root = self.root
        self.session = self.engine.spark.newSession()
        self.hdb = HurricaneSQL(self.session)
        flat = load_table(self.session, root, "docs")
        t0 = time.perf_counter()
        ps.export_segments(
            flat.withColumn("__k", F.col("doc_id") % 50)
            .repartitionByRange(self.n_segments, "__k").drop("__k"),
            os.path.join(root, "store"),
            json_index_columns=["props"],
            text_index_columns=["text"],
            star_tree_specs=[st.StarTreeSpec(
                split_order=["lang", "source"],
                function_column_pairs=["count__*", "sum__n_chars"],
                max_leaf_records=100,
            )],
        )
        t1 = time.perf_counter()
        self.hdb.register_segment_table("docs", os.path.join(root, "store"))
        self.hdb.register("docs_flat", flat)
        t2 = time.perf_counter()
        self.layers["sources.export_s"] = t1 - t0
        self.layers["catalog.register_s"] = t2 - t1

    def prepare(self) -> None:
        def expect(item):
            name, q = item
            want = self.hdb.sql(with_limit(q.format(t="docs_flat")), default_limit=None)
            return Request(name, with_limit(q.format(t="docs")), canonical_rows(want.collect()))

        self.mix = in_parallel(expect, list(self.queries.items()))
        self.serve(self.hdb)
        # After one warm-up round, the first timed pass still ran 6% slower
        # than the median and the third 4% faster (4-core x86 VM).
        self.warm_up(rounds=2)

    def measure(self, seconds: float) -> LoadResult:
        res = self.load(seconds)
        if self.trace:
            self.broker_layers([s.latency_s * 1e3 for s in res.samples])
            self.layers.update(segment_counts(self.traced.records, self.n_segments))
            res.samples.extend(self.operator_pass())
        return res

    def operator_pass(self) -> list[Sample]:
        """Traced run only: the LLM-pipeline operators over a small
        documents and embeddings set, once (side by side, untimed) to get
        the reference answers, then one by one, each timed in its own job
        group. Their Python/Arrow UDF workers are the ones the segment
        decode already started."""
        from hurricanedb_spark.queries import all_queries

        data_dir = clean_dir(self.work("datapipe"))
        datagen.write_table(datagen.documents(self.n_pipeline_docs, self.seed),
                            os.path.join(data_dir, "documents.parquet"))
        datagen.write_table(datagen.embeddings(self.n_pipeline_vectors, self.seed),
                            os.path.join(data_dir, "embeddings.parquet"))
        registry = all_queries()
        wants = in_parallel(
            lambda name: canonical_rows(registry[name].fn(self.session, data_dir).collect()),
            DATAPIPE_QUERIES,
        )
        samples = []
        t_start = time.perf_counter()
        for name, want in zip(DATAPIPE_QUERIES, wants):
            fn = registry[name].fn
            group = f"perfbench-op-{name}"
            self.engine.set_group(group)
            j0 = read_cpu_jiffies()
            t0 = time.perf_counter()
            try:
                got = canonical_rows(fn(self.session, data_dir).collect())
            finally:
                dt = time.perf_counter() - t0
                self.engine.set_group(None)
            why = "" if same_answer(got, want) else (
                f"wrong answer: {len(got)} rows, expected {len(want)}")
            samples.append(Sample(0, name, t0 - t_start, dt, not why,
                                  steal_pct(j0, read_cpu_jiffies()), why))
        self.engine.drain_listener()
        for s in samples:
            stats = self.engine.job_group_stats(f"perfbench-op-{s.name}")
            self.layers.update({
                f"operators.{s.name}_s": s.latency_s,
                f"operators.{s.name}_jobs": stats["jobs"],
                f"operators.{s.name}_shuffle_write_bytes": stats["shuffle_write_bytes"],
            })
        return samples


def decoded_segments(exec_jdf) -> int:
    """Segments one executed query decoded. A segment scan distributes its
    surviving segment paths with `repartition(len(segments))`, which the
    final physical plan shows as one round-robin (or, for a single
    segment, single-partition) exchange per scan."""
    final = exec_jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    return sum(int(n) for n in _ROUND_ROBIN_RE.findall(final)) + final.count(
        "SinglePartition, REPARTITION_BY_NUM")


def segment_counts(records: list[dict], store_segments: int) -> dict:
    scanned = [decoded_segments(r["exec_jdf"]) for r in records if "exec_jdf" in r]
    return {
        "sources.segments_scanned": median(scanned),
        "sources.segment_skip_ratio":
            1.0 - sum(scanned) / (store_segments * len(scanned)),
    }


class IngestUpsert(Workload):
    """The write path. Each step appends one seeded batch file of events,
    drains the upsert sink (`start_upsert_sink`, availableNow) and reads
    the served table back `reads_per_step` times through the broker. The
    first read after a commit ran 25-30% faster than the repeats
    (4-core x86 VM).
    Part of every batch updates
    keys of earlier batches, the rest are new keys, so state grows.

    The served table starts as the events table at `sf`, the size of the
    repo's events fixture at that scale. Each batch holds `batch_frac` of
    that, `update_frac` of it updates: the 20 steps of a run add 1.4x the
    starting state, so the merge's rewrite of all state grows with them.
    `batch_frac` and `update_frac` are the benchmark's own choice."""

    sf = 0.01
    batch_frac = 0.1
    update_frac = 0.3
    warm_steps = 1
    min_steps = 20
    # 20 steps of 3 reads put six samples beyond the read latency's p90.
    reads_per_step = 3
    query = ("SELECT event_type, COUNT(*) AS n, SUM(value) AS total "
             "FROM events_upsert GROUP BY event_type")

    def __init__(self, engine, seed, trace):
        super().__init__(engine, seed, trace)
        self.rng = np.random.default_rng(seed)
        base_rows = int(datagen.EVENTS_PER_SF * self.sf)
        self.n_users = int(datagen.USERS_PER_SF * self.sf)
        self.batch_rows = int(base_rows * self.batch_frac)
        self.base = datagen.events(self.rng, 0, base_rows, self.n_users)

    def batch(self, step: int) -> pd.DataFrame:
        """Batch `step` (1-based): later event time than every earlier
        batch, so its updates always win."""
        n_upd = int(self.batch_rows * self.update_frac)
        df = datagen.events(self.rng, self.next_id - n_upd, self.batch_rows,
                            self.n_users, t0_us=step * datagen.EVENTS_SPAN_US)
        df.loc[: n_upd - 1, "event_id"] = self.rng.choice(
            self.next_id, n_upd, replace=False)
        return df

    def apply(self, df: pd.DataFrame) -> None:
        """Latest-row-per-key model of the served table."""
        self.model = pd.concat([self.model, df]).drop_duplicates("event_id", keep="last")
        self.next_id = max(self.next_id, int(df["event_id"].max()) + 1)

    def expected(self) -> list[str]:
        g = self.model.groupby("event_type")["value"].agg(["count", "sum"])
        return canonical_rows([[k, int(r["count"]), float(r["sum"])] for k, r in g.iterrows()])

    def write_inputs(self, rep: int) -> None:
        root = clean_dir(self.work(f"ingest-{rep}"))
        self.src = os.path.join(root, "source")
        self.sink = os.path.join(root, "served", "events_upsert.parquet")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.src)
        self.base_bytes = self.append(self.base, 0)

    def setup(self, rep: int) -> None:
        from hurricanedb_spark.sql.dialect import HurricaneSQL

        self.model, self.next_id = self.base.iloc[:0], 0
        self.session = self.engine.spark.newSession()
        self.hdb = HurricaneSQL(self.session)
        self.steps: list[dict] = []
        self.step = 0
        self.schema = self.session.read.parquet(self.batch_path(0)).schema
        rec = self.commit(self.base, 0, self.base_bytes)
        self.layers["catalog.register_s"] = rec["register_s"]

    def batch_path(self, step: int) -> str:
        return os.path.join(self.src, f"batch-{step:05d}.parquet")

    def append(self, df: pd.DataFrame, step: int) -> int:
        """Write batch `step` as one new file of the source; returns its size."""
        return datagen.write_table(df, self.batch_path(step))

    def commit(self, df: pd.DataFrame, step: int, in_bytes: int) -> dict:
        """Drain the sink over the appended batch `df` and publish the
        served table."""
        from hurricanedb_spark.catalog.tables import load_table
        from hurricanedb_spark.streaming.realtime import read_event_stream, start_upsert_sink

        t0 = time.perf_counter()
        q = start_upsert_sink(
            read_event_stream(self.session, self.src, self.schema),
            self.sink, self.ckpt, pk=["event_id"], cmp_col="ts", tiebreak="value",
        )
        q.awaitTermination()
        t1 = time.perf_counter()
        served = os.path.dirname(self.sink)
        self.hdb.register("events_upsert", load_table(self.session, served, "events_upsert"))
        t2 = time.perf_counter()
        self.apply(df)
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        rec = {
            "commit_s": t2 - t0,
            "drain_s": t1 - t0,
            "register_s": t2 - t1,
            "batch_ms": [p.durationMs.get("triggerExecution", 0) for p in batches],
            "in_bytes": in_bytes,
            "out_bytes": _dir_bytes(self.sink),
        }
        if len(batches) != 1 or batches[0].numInputRows != len(df):
            raise RuntimeError(f"step {step}: expected one batch of {len(df)} rows, "
                               f"got {[p.numInputRows for p in batches]}")
        return rec

    def prepare(self) -> None:
        self.serve(self.hdb)
        self.mix = [Request("read_after_write", with_limit(self.query), self.expected())]
        self.warm_up(rounds=1)
        # The first steps on a fresh JVM read back up to 60% slower.
        bad = [s.error for s in self.run_steps(self.warm_steps, 0.0).samples if not s.ok]
        if bad:
            raise RuntimeError(f"warm-up steps failed: {bad[:3]}")
        self.steps.clear()
        if self.traced is not None:
            self.traced.reset()

    def run_steps(self, min_steps: int, seconds: float) -> LoadResult:
        """Ingest-then-read steps: at least `min_steps`, then more while
        `seconds` have not passed. Each step reads the served table back
        `reads_per_step` times, the first right after the commit."""
        import http.client

        res = LoadResult()
        conn = http.client.HTTPConnection("127.0.0.1", self.broker.port, timeout=120)
        t_start = time.perf_counter()
        try:
            while len(res.passes) < min_steps or time.perf_counter() < t_start + seconds:
                self.step += 1
                p0, pj0 = time.perf_counter(), read_cpu_jiffies()
                df = self.batch(self.step)
                self.steps.append(self.commit(df, self.step, self.append(df, self.step)))
                want = self.expected()
                for r in range(self.reads_per_step):
                    name = "read_after_write" if r == 0 else "read_again"
                    j0 = read_cpu_jiffies()
                    t0 = time.perf_counter()
                    why = check_response(post_sql(conn, self.mix[0].sql),
                                         Request(name, self.mix[0].sql, want))
                    res.samples.append(Sample(
                        0, name, t0 - t_start, time.perf_counter() - t0,
                        not why, steal_pct(j0, read_cpu_jiffies()), why, len(res.passes)))
                res.passes.append(Pass(0, len(res.passes), time.perf_counter() - p0,
                                       steal_pct(pj0, read_cpu_jiffies())))
        finally:
            conn.close()
        res.wall_s = time.perf_counter() - t_start
        return res

    def measure(self, seconds: float) -> LoadResult:
        res = self.run_steps(self.min_steps, seconds)
        commits = [s["commit_s"] for s in self.steps]
        self.layers.update({
            "streaming.commit_p50_ms": median(commits) * 1e3,
            "streaming.ingest_rows_per_s": self.batch_rows * len(commits) / res.wall_s,
        })
        if self.trace:
            self.broker_layers([s.latency_s * 1e3 for s in res.samples])
            batch_ms = [b for s in self.steps for b in s["batch_ms"]]
            self.layers.update({
                "streaming.start_ms": median(
                    [s["drain_s"] * 1e3 - sum(s["batch_ms"]) for s in self.steps]),
                "streaming.batch_ms": median(batch_ms),
                "streaming.state_rows": float(len(self.model)),
                "streaming.bytes_written_per_input_byte": median(
                    [s["out_bytes"] / s["in_bytes"] for s in self.steps]),
            })
        return res


def _dir_bytes(path: str) -> int:
    """Bytes under `path` and its sibling state versions (`path.v*`)."""
    parent, base = os.path.split(path)
    total = 0
    for entry in os.listdir(parent):
        if entry == base or entry.startswith(base + ".v"):
            for root, _dirs, files in os.walk(os.path.join(parent, entry)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {
    "segment_index": SegmentIndex,
    "ingest_upsert": IngestUpsert,
}
