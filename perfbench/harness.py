"""The benchmark's Spark lifecycle, its broker load generator and the
per-request trace taken from the benchmark side of each layer boundary.

Tracing is opt-in (`trace=True`): the untraced run sends the same
requests through the same broker with no wrapper at all, so its numbers
are the ones a user would see.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

from measure import canonical_rows, read_cpu_jiffies, same_answer, steal_pct


class Engine:
    """One Spark JVM for the whole run, with every scratch path inside
    `work_dir` so nothing is written outside the checkout."""

    def __init__(self, work_dir: str):
        from hurricanedb_spark.session import get_spark

        self.work_dir = work_dir
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # The inputs need well under 1 GB of heap. The session's 16g
        # default would let G1 grow the heap long before it collects, so
        # peak_rss_mb would follow G1's sizing rather than the program.
        os.environ.setdefault("HURRICANE_DRIVER_MEM", "1g")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._gateway.proc

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit."""
        proc = self.jvm
        try:
            self.spark.stop()
            self.sc._gateway.shutdown()
        finally:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # -- per-request Spark accounting ------------------------------------

    def drain_listener(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, task time and bytes of one job group."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_run_ms", "failed_tasks",
             "input_bytes", "shuffle_write_bytes"), 0,
        )
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                sd = store.lastStageAttempt(stage_id)
                if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_run_ms"] += sd.executorRunTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, "perfbench")


def phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations of one executed query (QueryPlanningTracker)."""
    out = {}
    it = jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


# -- tracing proxy for the broker ------------------------------------------

ACCESS_ATTRS = (
    ("last_multi_index_accel", "AND_COMPOSED"),
    ("last_json_match_accel", "JSON_INDEX"),
    ("last_text_match_accel", "TEXT_INDEX"),
    ("last_text_contains_accel", "TEXT_INDEX"),
    ("last_star_tree_redirect", "STAR_TREE"),
    ("last_column_prune", "COLUMN_PRUNE"),
)


def access_path(hdb) -> str:
    """The access path the dialect's last query took, from its public
    `last_*` attributes ('SCAN' when none fired)."""
    for attr, label in ACCESS_ATTRS:
        if getattr(hdb, attr, None):
            return label
    return "SCAN"


class _TracedCollect:
    def __init__(self, ldf, rec: dict):
        self._ldf, self._rec = ldf, rec

    def collect(self):
        t0 = time.perf_counter()
        try:
            return self._ldf.collect()
        finally:
            self._rec["collect_ms"] = (time.perf_counter() - t0) * 1e3


class _TracedFrame:
    def __init__(self, df, rec: dict):
        self._df, self._rec = df, rec

    @property
    def schema(self):
        return self._df.schema

    def limit(self, n: int):
        ldf = self._df.limit(n)
        self._rec["exec_jdf"] = ldf._jdf
        return _TracedCollect(ldf, self._rec)


class TracedSQL:
    """Stands in for HurricaneSQL behind serve(): each request gets its
    own Spark job group, and the calls the broker makes into the dialect
    (`sql`) and into Spark (`limit(...).collect()`) are timed. Inside
    `sql`, every SparkSession.sql call is counted and timed. Lookups that
    need the status store run after the load, off the request path."""

    def __init__(self, hdb, engine: Engine):
        self.hdb, self.engine = hdb, engine
        self.records: list[dict] = []
        self._seq = itertools.count()
        self._local = threading.local()
        self._bookkeeping_s = 0.0
        self._lock = threading.Lock()
        real_sql = hdb.spark.sql

        def counted_sql(*args, **kwargs):
            calls = getattr(self._local, "calls", None)
            t0 = time.perf_counter()
            try:
                return real_sql(*args, **kwargs)
            finally:
                if calls is not None:
                    calls.append(time.perf_counter() - t0)

        hdb.spark.sql = counted_sql

    def sql(self, query: str):
        t_in = time.perf_counter()
        rec = {"group": f"perfbench-{next(self._seq)}"}
        self.engine.set_group(rec["group"])
        self._local.calls = []
        t0 = time.perf_counter()
        try:
            df = self.hdb.sql(query)
        finally:
            t1 = time.perf_counter()
            calls, self._local.calls = self._local.calls, None
        rec["sql_ms"] = (t1 - t0) * 1e3
        rec["spark_sql_calls"] = len(calls)
        rec["analyze_ms"] = sum(calls) * 1e3
        rec["access"] = access_path(self.hdb)
        rec["sql_jdf"] = df._jdf
        with self._lock:
            self.records.append(rec)
            self._bookkeeping_s += (t0 - t_in) + (time.perf_counter() - t1)
        return _TracedFrame(df, rec)

    def bookkeeping_s(self) -> float:
        return self._bookkeeping_s

    def reset(self) -> None:
        """Forget the warm-up requests."""
        with self._lock:
            self.records.clear()
            self._bookkeeping_s = 0.0

    def finish(self) -> list[dict]:
        """Resolve each request's Spark counters once the load is over."""
        self.engine.set_group(None)
        self.engine.drain_listener()
        for rec in self.records:
            rec.update(self.engine.job_group_stats(rec["group"]))
            rec["analysis_ms"] = phases_ms(rec["sql_jdf"]).get("analysis", 0.0)
            exec_jdf = rec.get("exec_jdf")
            ph = phases_ms(exec_jdf) if exec_jdf is not None else {}
            rec["optimization_ms"] = ph.get("optimization", 0.0)
            rec["planning_ms"] = ph.get("planning", 0.0)
        return self.records


# -- closed-loop broker clients -----------------------------------------------


@dataclass
class Request:
    name: str
    sql: str
    expected: list[str]  # canonical rows (measure.canonical_rows)


@dataclass
class Sample:
    client: int
    name: str
    start: float
    latency_s: float
    ok: bool
    steal_pct: float
    error: str = ""
    pass_no: int = -1  # the client's pass this request belongs to


@dataclass
class Pass:
    """One whole pass of a client over its mix (or one ingest step)."""
    client: int
    no: int
    seconds: float
    steal_pct: float


@dataclass
class LoadResult:
    samples: list[Sample] = field(default_factory=list)
    passes: list[Pass] = field(default_factory=list)
    wall_s: float = 0.0


def post_sql(conn: http.client.HTTPConnection, sql: str) -> dict:
    body = json.dumps({"sql": sql})
    conn.request("POST", "/query/sql", body, {"Content-Type": "application/json"})
    resp = conn.getresponse()
    payload = resp.read()
    if resp.status != 200:
        raise RuntimeError(f"HTTP {resp.status}: {payload[:200]!r}")
    return json.loads(payload)


def check_response(payload: dict, req: Request) -> str:
    """'' when the broker answered `req` correctly, else why not."""
    if payload.get("exceptions"):
        return str(payload["exceptions"][0].get("message", "exception"))[:200]
    table = payload.get("resultTable") or {}
    got = canonical_rows(table.get("rows") or [])
    if not same_answer(got, req.expected):
        return f"wrong answer: {len(got)} rows, expected {len(req.expected)}"
    return ""


def closed_loop(
    port: int, mixes: list[list[Request]], seconds: float, seed: int,
) -> LoadResult:
    """One client thread per mix, each on its own HTTP connection, sends
    the mix in a fresh per-client seeded order each pass, and stops at
    the end of the first pass that ends after `seconds`: only whole
    passes are timed (see run.py), so a cut-off pass would be wasted.
    Each request is timed and checked; `passes` holds each pass's time
    and CPU steal."""
    if not all(mixes):
        raise ValueError("every client needs a non-empty mix")
    result = LoadResult()
    lock = threading.Lock()
    errors: list[BaseException] = []
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(cid: int, mix: list[Request]) -> None:
        rng = random.Random(seed * 1009 + cid)
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        passes = 0
        local: list[Sample] = []
        try:
            while True:
                order = mix[:]
                rng.shuffle(order)
                p0, pj0 = time.perf_counter(), read_cpu_jiffies()
                for req in order:
                    j0 = read_cpu_jiffies()
                    t0 = time.perf_counter()
                    try:
                        why = check_response(post_sql(conn, req.sql), req)
                    except (OSError, http.client.HTTPException, RuntimeError,
                            ValueError) as e:
                        why = f"{type(e).__name__}: {e}"[:200]
                        conn.close()
                        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                    dt = time.perf_counter() - t0
                    local.append(Sample(cid, req.name, t0 - t_start, dt, not why,
                                        steal_pct(j0, read_cpu_jiffies()), why, passes))
                with lock:
                    result.passes.append(Pass(cid, passes, time.perf_counter() - p0,
                                              steal_pct(pj0, read_cpu_jiffies())))
                passes += 1
                if time.perf_counter() >= deadline:
                    return
        except BaseException as e:  # surfaced by the caller
            errors.append(e)
        finally:
            conn.close()
            with lock:
                result.samples.extend(local)

    threads = [threading.Thread(target=client, args=(c, m)) for c, m in enumerate(mixes)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    result.wall_s = time.perf_counter() - t_start
    if errors:
        raise errors[0]
    return result


class Broker:
    """The in-process broker (`sql/server.py:serve`) on a free local port."""

    def __init__(self, hdb):
        from hurricanedb_spark.sql.server import serve

        self.server = serve(hdb, host="127.0.0.1", port=0)
        self.port = self.server.server_address[1]

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def clean_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

