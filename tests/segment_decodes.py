"""What a segment scan decoded and ran, read from Spark rather than from
the partition count. A store under the decode task bound
(`pinot_segment.map_segments`: Σ total_docs over Spark's Arrow batch
size) decodes in one task, so `df.rdd.getNumPartitions()` is 1 there
whatever the number of segments that survived pruning; the decodes are
counted from the scan's leaf instead.
"""

from __future__ import annotations

import uuid


def _scan_leaves(df):
    """The segment-id leaves (`Scan ExistingRDD[id]` under each
    MapInPandas) of an executed DataFrame, found through AQE query
    stages and into the cached plan under an InMemoryTableScan."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        elif name == "RDDScanExec":
            yield node
        else:
            children = node.children().iterator()
            while children.hasNext():
                stack.append(children.next())


def decoded_segments(df) -> int:
    """Segments an executed DataFrame decoded: the rows its segment-id
    leaves emitted, read from their numOutputRows metrics. Every query
    over one cache shares the cached plan, so its count covers all of
    them; use `collect_decoding` for one query's share."""
    return sum(n.metrics().apply("numOutputRows").value() for n in _scan_leaves(df))


def decode_tasks(df) -> list[int]:
    """The task count of each segment scan in `df`'s executed plan: the
    partitions of its id leaf."""
    return [n.rdd().getNumPartitions() for n in _scan_leaves(df)]


def collect_decoding(df) -> tuple[list, int]:
    """(rows, segments decoded) of collecting `df`: the decodes counted
    in its plan after the collect less those counted before it."""
    before = decoded_segments(df)
    rows = df.collect()
    return rows, decoded_segments(df) - before


def collect_jobs(df) -> tuple[list, int]:
    """(rows, Spark jobs) of collecting `df`, counted in a job group of
    its own."""
    sc = df.sparkSession.sparkContext
    group = f"segment-decodes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def small_batches(spark, rows: int):
    """A new session of `spark`'s context whose Arrow batch size is
    `rows`, so that a small store passes the decode task bound and takes
    the multi-task path. The bound is read once per session, so a new
    session carries it; `spark`'s own setting is left as it was."""
    session = spark.newSession()
    session.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
    return session
