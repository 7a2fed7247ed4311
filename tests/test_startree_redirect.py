"""Transparent star-tree redirect in the SQL path (round-7 item 1).

The reference redirects fitting aggregations to the star-tree at plan
time (pinot-core/.../startree/StarTreeUtils.java:144 isFitForStarTree,
plan/AggregationPlanNode.java, StarTreeFilterOperator.java:63-82). Here
`HurricaneSQL.sql()` rebinds a fitting aggregate over a segment-backed
table to a pre-agg view fed by per-segment tree traversal
(sources/startree_v2.py:read_segments_star_tree), with a raw-scan
fallback per segment and a fall-back-to-scan default for every shape it
cannot prove equivalent. Every test asserts EXACT equality with the
plain scan path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sources import startree_v2 as st
from hurricanedb_spark.sql.dialect import HurricaneSQL, rewrite_functions
from tests.segment_decodes import collect_decoding, small_batches

SPEC = st.StarTreeSpec(
    split_order=["city", "status"],
    function_column_pairs=["count__*", "sum__cents", "min__cents", "max__cents"],
    max_leaf_records=2,
)


def _seg_frame(rng, n=400):
    return pd.DataFrame(
        {
            "city": rng.choice(["nyc", "sf", "la", "chi"], n),
            "status": rng.choice(["A", "B", "C"], n),
            "cents": rng.integers(0, 10_000, n).astype(np.int64),
            "other": rng.integers(0, 5, n).astype(np.int64),
        }
    )


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    """Three segments; segment 2 carries NO star-tree (per-segment
    scan-fallback path)."""
    base = tmp_path_factory.mktemp("st_store")
    rng = np.random.default_rng(11)
    for si in range(3):
        pdf = _seg_frame(rng)
        seg = str(base / f"seg_{si}")
        ps.write_segment_pandas(pdf, seg)
        if si != 2:
            st.write_star_trees(seg, pdf, [SPEC])
    return str(base)


@pytest.fixture(scope="module")
def hq(spark, store):
    h = HurricaneSQL(spark)
    h.register_segment_table("st_metrics", store)
    return h


REDIRECTED = [
    "SELECT city, status, COUNT(*) AS n, SUM(cents) AS s, MIN(cents) AS mn, "
    "MAX(cents) AS mx FROM st_metrics GROUP BY city, status "
    "ORDER BY city, status LIMIT 100",
    "SELECT city, SUM(cents) AS s FROM st_metrics WHERE status = 'A' "
    "GROUP BY city ORDER BY city LIMIT 100",
    "SELECT status, COUNT(*) AS n FROM st_metrics "
    "WHERE city IN ('nyc', 'sf') AND status = 'B' GROUP BY status LIMIT 100",
    "SELECT COUNT(*) AS n, SUM(cents) AS s FROM st_metrics WHERE city = 'la'",
    "SELECT COUNT(*) AS n FROM st_metrics WHERE city = 'nowhere'",  # empty
    # round-8: range / BETWEEN / single-dim OR predicates redirect too
    # (StarTreeFilterOperator accepts any per-dimension predicate
    # evaluator; fit is column-membership only, StarTreeUtils.java:144)
    "SELECT city, SUM(cents) AS s FROM st_metrics "
    "WHERE status = 'A' OR status = 'B' GROUP BY city LIMIT 100",
    "SELECT city, SUM(cents) AS s FROM st_metrics WHERE status >= 'B' "
    "GROUP BY city ORDER BY city LIMIT 100",
    "SELECT city, COUNT(*) AS n FROM st_metrics "
    "WHERE status BETWEEN 'A' AND 'B' GROUP BY city LIMIT 100",
    "SELECT city, MAX(cents) AS mx FROM st_metrics "
    "WHERE status != 'C' AND city < 'nyc' GROUP BY city LIMIT 100",
    "SELECT status, SUM(cents) AS s FROM st_metrics "
    "WHERE (city = 'la' OR city BETWEEN 'nyc' AND 'sf') AND status <> 'B' "
    "GROUP BY status LIMIT 100",
    # round-8: AVG / MINMAXRANGE compose from stored (sum,count)/(max,min)
    # pairs (AvgPair / MinMaxRangePair tree aggregators in the reference)
    "SELECT city, AVG(cents) AS a, COUNT(*) AS n FROM st_metrics "
    "GROUP BY city ORDER BY city LIMIT 100",
    "SELECT city, MINMAXRANGE(cents) AS r FROM st_metrics "
    "WHERE status = 'B' GROUP BY city LIMIT 100",
]


@pytest.mark.parametrize("q", REDIRECTED)
def test_redirect_equals_scan_path(spark, hq, q):
    fast = [tuple(r) for r in hq.sql(q).collect()]
    assert hq.last_star_tree_redirect is not None, "redirect did not fire"
    assert hq.last_star_tree_redirect["segments_tree"] == 2
    assert hq.last_star_tree_redirect["segments_scan"] == 1
    slow = [tuple(r) for r in spark.sql(rewrite_functions(q)).collect()]
    key = lambda rows: sorted(rows, key=str)  # noqa: E731
    assert key(fast) == key(slow)


def test_star_tree_scan_is_one_stage_with_unknown_size(spark, store):
    """The pre-agg scan has no Exchange below its decode, and keeps the
    unknown size estimate that stops a segment table from broadcasting."""
    segs = [f"{store}/seg_{si}" for si in range(3)]
    df = st.read_segments_star_tree(spark, segs, ["city"], ["sum__cents"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("MapInPandas", 1)[1], plan
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size == spark._jsparkSession.sessionState().conf().defaultSizeInBytes()


def test_redirect_over_more_segments_than_cores(spark, tmp_path):
    """11 segments of 120 rows (every fourth without a tree), in a
    session whose Arrow batch is 100 rows so that the store is over the
    task bound, share defaultParallelism (8) tasks, and the redirect
    still equals the same rows held in memory: each segment is answered
    once, from its own tree or its own fallback scan."""
    spark = small_batches(spark, 100)
    rng = np.random.default_rng(29)
    segs, frames = [], []
    for si in range(11):
        pdf = _seg_frame(rng, 120)
        seg = str(tmp_path / f"seg_{si:02d}")
        ps.write_segment_pandas(pdf, seg)
        if si % 4 != 3:
            st.write_star_trees(seg, pdf, [SPEC])
        segs.append(seg)
        frames.append(pdf)
    par = spark.sparkContext.defaultParallelism
    assert par < len(segs)
    pre = st.read_segments_star_tree(spark, segs, ["city", "status"], ["count__*"])
    assert pre.rdd.getNumPartitions() == par
    assert collect_decoding(pre)[1] == len(segs)
    h = HurricaneSQL(spark)
    h.register_segment_table("st_wide", str(tmp_path))
    spark.createDataFrame(pd.concat(frames)).createOrReplaceTempView("st_wide_rows")
    for q in REDIRECTED[:4]:
        fast = [tuple(r) for r in h.sql(q.replace("st_metrics", "st_wide")).collect()]
        assert h.last_star_tree_redirect["segments_tree"] == 9
        assert h.last_star_tree_redirect["segments_scan"] == 2
        ref = spark.sql(rewrite_functions(q.replace("st_metrics", "st_wide_rows")))
        want = [tuple(r) for r in ref.collect()]
        assert sorted(fast, key=str) == sorted(want, key=str)


UNFIT = [
    # AVG composition needs sum__other which no tree carries
    "SELECT city, AVG(other) AS a FROM st_metrics GROUP BY city LIMIT 100",
    # COUNT(col): NULL semantics a tree cannot prove
    "SELECT city, COUNT(cents) AS n FROM st_metrics GROUP BY city LIMIT 100",
    # group-by dim outside the split order
    "SELECT other, SUM(cents) AS s FROM st_metrics GROUP BY other LIMIT 100",
    # predicate column outside the split order
    "SELECT city, SUM(cents) AS s FROM st_metrics WHERE other = 3 "
    "GROUP BY city LIMIT 100",
    # range predicate on a non-split-order column: no fitting tree
    "SELECT city, SUM(cents) AS s FROM st_metrics WHERE cents > 100 "
    "GROUP BY city LIMIT 100",
    # cross-column OR / NOT / HAVING / unaliased aggregate: parser refuses
    "SELECT city, SUM(cents) AS s FROM st_metrics "
    "WHERE status = 'A' OR city = 'nyc' GROUP BY city LIMIT 100",
    "SELECT city, SUM(cents) AS s FROM st_metrics "
    "WHERE NOT status = 'A' GROUP BY city LIMIT 100",
    "SELECT city, SUM(cents) AS s FROM st_metrics GROUP BY city "
    "HAVING SUM(cents) > 0 LIMIT 100",
    "SELECT city, SUM(cents) FROM st_metrics GROUP BY city LIMIT 100",
]


@pytest.mark.parametrize("q", UNFIT)
def test_unfit_shapes_fall_back_to_scan(spark, hq, q):
    fast = [tuple(r) for r in hq.sql(q).collect()]
    assert hq.last_star_tree_redirect is None
    slow = [tuple(r) for r in spark.sql(q).collect()]
    assert sorted(fast, key=str) == sorted(slow, key=str)


def test_redirect_plan_reads_tree_not_parquet(hq):
    df = hq.sql(
        "SELECT city, SUM(cents) AS s FROM st_metrics GROUP BY city LIMIT 100"
    )
    assert hq.last_star_tree_redirect is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the accelerated source is the mapInPandas pre-agg scan, not the
    # shared segment view's decode
    assert "MapInPandas" in plan


def test_tree_records_are_preaggregated(store):
    # the tree path ships pre-aggregated records: for a full group-by it
    # visits at most one record per (city, status) combination, never
    # the 400 raw docs
    seg = f"{store}/seg_0"
    tid = st.fitting_tree_id(seg, ["city", "status"], ["count__*"], [])
    assert tid is not None
    out = st.star_tree_visit_pandas(seg, tid, ["city", "status"], ["count__*"])
    assert len(out) <= 12  # 4 cities x 3 statuses
    assert out["__st_count_star"].sum() == 400


def test_null_vector_disables_redirect(spark, tmp_path):
    rng = np.random.default_rng(3)
    pdf = _seg_frame(rng, 100)
    pdf.loc[::7, "cents"] = None  # null-value vector on the metric column
    seg = str(tmp_path / "null_seg")
    ps.write_segment_pandas(pdf, seg)
    filled = pdf.copy()
    filled["cents"] = filled["cents"].fillna(ps.NULL_DEFAULTS["LONG"]).astype(np.int64)
    st.write_star_trees(seg, filled, [SPEC])
    h = HurricaneSQL(spark)
    h.register_segment_table("st_nulls", str(tmp_path))
    q = "SELECT city, SUM(cents) AS s FROM st_nulls GROUP BY city LIMIT 100"
    fast = [tuple(r) for r in h.sql(q).collect()]
    assert h.last_star_tree_redirect is None  # exact NULL semantics: scan
    slow = [tuple(r) for r in spark.sql(q).collect()]
    assert sorted(fast, key=str) == sorted(slow, key=str)


def test_non_segment_table_untouched(spark, hq):
    spark.createDataFrame(
        [("x", 1), ("y", 2)], "city string, cents bigint"
    ).createOrReplaceTempView("plain_tbl")
    out = hq.sql("SELECT city, SUM(cents) AS s FROM plain_tbl GROUP BY city LIMIT 10")
    assert hq.last_star_tree_redirect is None
    assert {tuple(r) for r in out.collect()} == {("x", 1), ("y", 2)}


def test_distributed_export_builds_trees_in_tasks(spark, tmp_path):
    """export_segments(star_tree_specs=...) builds each segment's trees
    inside its own write task — the scale path (no driver-side pdf) —
    and the SQL redirect answers from them."""
    rng = np.random.default_rng(23)
    pdf = _seg_frame(rng, 2000).drop(columns="other")
    df = spark.createDataFrame(pdf)
    store = str(tmp_path / "dist_store")
    ps.export_segments(df.repartition(4), store, star_tree_specs=[SPEC])
    import os

    segs = [
        os.path.join(store, d)
        for d in sorted(os.listdir(store))
        if os.path.isdir(os.path.join(store, d))
    ]
    assert len(segs) == 4
    for seg in segs:
        assert st.fitting_tree_id(seg, ["city", "status"], ["count__*"], []) == 0
    h = HurricaneSQL(spark)
    h.register_segment_table("st_dist", store)
    q = (
        "SELECT city, COUNT(*) AS n, SUM(cents) AS s FROM st_dist "
        "WHERE status = 'B' GROUP BY city ORDER BY city LIMIT 100"
    )
    fast = [tuple(r) for r in h.sql(q).collect()]
    assert h.last_star_tree_redirect is not None
    assert h.last_star_tree_redirect["segments_tree"] == 4
    grp = (
        pdf[pdf["status"] == "B"]
        .groupby("city")
        .agg(n=("cents", "size"), s=("cents", "sum"))
        .reset_index()
        .sort_values("city")
    )
    want = [(r.city, int(r.n), int(r.s)) for r in grp.itertuples()]
    assert fast == want


def test_star_tree_spec_null_column_rejected(tmp_path):
    pdf = pd.DataFrame(
        {"city": ["a", None, "b"], "cents": np.arange(3, dtype=np.int64)}
    )
    with pytest.raises(ps.UnsupportedSegmentError, match="nulls"):
        ps.write_segment_pandas(
            pdf,
            str(tmp_path / "null_tree"),
            star_tree_specs=[
                st.StarTreeSpec(
                    split_order=["city"], function_column_pairs=["count__*"]
                )
            ],
        )


def test_explain_impl_names_access_path(hq):
    out = hq.sql(
        "EXPLAIN IMPLEMENTATION PLAN FOR "
        "SELECT city, SUM(cents) AS s FROM st_metrics GROUP BY city LIMIT 100"
    )
    plan = out.collect()[0]["plan"]
    assert "accessPath: STAR_TREE" in plan
    assert "scan fallback: 1" in plan
    # unfit shape (sum__other pair absent): no annotation
    out2 = hq.sql(
        "EXPLAIN IMPLEMENTATION PLAN FOR "
        "SELECT city, AVG(other) AS a FROM st_metrics GROUP BY city LIMIT 100"
    )
    assert "accessPath" not in out2.collect()[0]["plan"]


def test_projected_registration_stays_authoritative(spark, store):
    # table registered with columns=["city", "cents"]: a query touching
    # the unprojected 'status' must NOT succeed through the tree when the
    # scan path would reject it
    h = HurricaneSQL(spark)
    h.register_segment_table("st_proj", store, columns=["city", "cents"])
    import pyspark.sql.utils as _u

    with pytest.raises(Exception):
        h.sql(
            "SELECT status, SUM(cents) AS s FROM st_proj "
            "GROUP BY status LIMIT 100"
        ).collect()
    assert h.last_star_tree_redirect is None
    # projected columns still redirect fine
    out = h.sql(
        "SELECT city, SUM(cents) AS s FROM st_proj GROUP BY city "
        "ORDER BY city LIMIT 100"
    )
    assert h.last_star_tree_redirect is not None
    assert [tuple(r) for r in out.collect()] == [
        tuple(r)
        for r in spark.sql(
            "SELECT city, SUM(cents) AS s FROM st_proj GROUP BY city "
            "ORDER BY city LIMIT 100"
        ).collect()
    ]


def test_numeric_dims_through_redirect(spark, tmp_path):
    # INT and LONG dimensions decode through segment dictionaries and the
    # Arrow schema cast; IN filter on a LONG dim maps to dictIds per
    # segment
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "bucket": rng.integers(0, 7, 600).astype(np.int32),
            "day": rng.integers(19000, 19010, 600).astype(np.int64),
            "cents": rng.integers(0, 1000, 600).astype(np.int64),
        }
    )
    base = str(tmp_path / "numdim")
    ps.write_segment_pandas(
        pdf,
        f"{base}/s0",
        star_tree_specs=[
            st.StarTreeSpec(
                split_order=["bucket", "day"],
                function_column_pairs=["count__*", "sum__cents"],
                max_leaf_records=1,
            )
        ],
    )
    h = HurricaneSQL(spark)
    h.register_segment_table("st_numdim", base)
    q = (
        "SELECT bucket, day, COUNT(*) AS n, SUM(cents) AS s FROM st_numdim "
        "WHERE day IN (19001, 19003) GROUP BY bucket, day "
        "ORDER BY bucket, day LIMIT 1000"
    )
    fast = [tuple(r) for r in h.sql(q).collect()]
    assert h.last_star_tree_redirect is not None
    slow = [tuple(r) for r in spark.sql(q).collect()]
    assert fast == slow


def test_multi_tree_selection(spark, tmp_path):
    # two trees with different split orders in ONE segment: the fit check
    # must pick whichever covers the query's dims (tree 1 here)
    rng = np.random.default_rng(7)
    pdf = _seg_frame(rng, 500)
    base = str(tmp_path / "multi")
    seg = f"{base}/s0"
    ps.write_segment_pandas(
        pdf,
        seg,
        star_tree_specs=[
            st.StarTreeSpec(
                split_order=["city"],
                function_column_pairs=["count__*"],
                max_leaf_records=1,
            ),
            st.StarTreeSpec(
                split_order=["status", "other"],
                function_column_pairs=["count__*", "sum__cents"],
                max_leaf_records=1,
            ),
        ],
    )
    assert st.fitting_tree_id(seg, ["city"], ["count__*"], []) == 0
    assert st.fitting_tree_id(seg, ["status"], ["sum__cents"], ["other"]) == 1
    assert st.fitting_tree_id(seg, ["city"], ["sum__cents"], []) is None
    h = HurricaneSQL(spark)
    h.register_segment_table("st_multi", base)
    q = (
        "SELECT status, SUM(cents) AS s FROM st_multi WHERE other = 3 "
        "GROUP BY status ORDER BY status LIMIT 100"
    )
    fast = [tuple(r) for r in h.sql(q).collect()]
    assert h.last_star_tree_redirect is not None
    slow = [tuple(r) for r in spark.sql(q).collect()]
    assert fast == slow


def test_randomized_predicates_redirect_equals_scan(spark, hq):
    """Randomized per-dimension predicate grammar (round-8 range/OR
    support): every generated WHERE must give identical rows through the
    redirect and the plain scan; parseable shapes must actually fire."""
    import random

    rng = random.Random(88)
    cities = ["chi", "la", "nyc", "sf"]
    statuses = ["A", "B", "C"]

    def simple(col, vals):
        kind = rng.choice(["eq", "ne", "cmp", "between", "in"])
        if kind == "eq":
            return f"{col} = '{rng.choice(vals)}'"
        if kind == "ne":
            return f"{col} != '{rng.choice(vals)}'"
        if kind == "cmp":
            op = rng.choice(["<", "<=", ">", ">="])
            return f"{col} {op} '{rng.choice(vals)}'"
        if kind == "between":
            a, b = sorted(rng.sample(vals, 2))
            return f"{col} BETWEEN '{a}' AND '{b}'"
        picks = rng.sample(vals, rng.randint(1, len(vals) - 1))
        return f"{col} IN ({', '.join(repr(v) for v in picks)})"

    # build sequentially (rng determinism + last_star_tree_redirect is
    # per-instance state), collect the 50 independent actions in a pool
    # (guide §2.6; round-16)
    from concurrent.futures import ThreadPoolExecutor

    cases = []
    for _ in range(25):
        conjuncts = []
        for col, vals in (("city", cities), ("status", statuses)):
            if rng.random() < 0.7:
                if rng.random() < 0.3:
                    conjuncts.append(
                        f"({simple(col, vals)} OR {simple(col, vals)})"
                    )
                else:
                    conjuncts.append(simple(col, vals))
        where = " AND ".join(conjuncts)
        q = (
            "SELECT city, COUNT(*) AS n, SUM(cents) AS s FROM st_metrics "
            + (f"WHERE {where} " if where else "")
            + "GROUP BY city LIMIT 100"
        )
        fast_df = hq.sql(q)
        assert hq.last_star_tree_redirect is not None, q
        cases.append((q, fast_df, spark.sql(q)))

    def collect_pair(case):
        _q, fast_df, slow_df = case
        return (
            sorted(tuple(r) for r in fast_df.collect()),
            sorted(tuple(r) for r in slow_df.collect()),
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        for (q, _f, _s), (fast, slow) in zip(cases, pool.map(collect_pair, cases)):
            assert fast == slow, q


def test_theta_pair_redirect(spark, tmp_path):
    """distinctCountThetaSketch through the transparent redirect: a tree
    carrying the theta pair answers plain Pinot SQL from its sketch
    records; segments without a fitting tree build sketches in their
    fallback scan, and the final union estimates exactly (below
    nominalEntries). The union is a JVM aggregate, so mixed theta +
    JVM-aggregate selects redirect too."""
    rng = np.random.default_rng(17)
    theta_spec = st.StarTreeSpec(
        split_order=["city", "status"],
        function_column_pairs=["count__*", "distinctcountthetasketch__other"],
        max_leaf_records=2,
    )
    for si in range(3):
        pdf = _seg_frame(rng)
        seg = str(tmp_path / f"seg_{si}")
        ps.write_segment_pandas(pdf, seg)
        if si != 2:
            st.write_star_trees(seg, pdf, [theta_spec])
    h = HurricaneSQL(spark)
    h.register_segment_table("st_theta", str(tmp_path))
    q = (
        "SELECT city, distinctCountThetaSketch(other) AS du "
        "FROM st_theta WHERE status = 'A' GROUP BY city LIMIT 100"
    )
    fast = {r["city"]: r["du"] for r in h.sql(q).collect()}
    assert h.last_star_tree_redirect is not None
    assert h.last_star_tree_redirect["segments_tree"] == 2
    exact = {
        r["city"]: r["n"]
        for r in spark.sql(
            "SELECT city, count(DISTINCT other) AS n FROM st_theta "
            "WHERE status = 'A' GROUP BY city"
        ).collect()
    }
    assert fast == exact  # theta exact below nominalEntries

    # mixed theta + COUNT(*) redirects as well, and reads the scan's
    # count(*) and exact distinct
    mixed = {
        r["city"]: (r["n"], r["du"])
        for r in h.sql(
            "SELECT city, COUNT(*) AS n, distinctCountThetaSketch(other) AS du "
            "FROM st_theta GROUP BY city LIMIT 100"
        ).collect()
    }
    assert h.last_star_tree_redirect is not None
    scan = {
        r["city"]: (r["n"], r["du"])
        for r in spark.sql(
            "SELECT city, count(*) AS n, count(DISTINCT other) AS du "
            "FROM st_theta GROUP BY city"
        ).collect()
    }
    assert mixed == scan


def test_bitmap_pair_exact_distinct_redirect(spark, tmp_path):
    """distinctCountBitmap pairs: EXACT distinct counts from the tree —
    value RoaringBitmaps in tree records union losslessly across
    segments (including the no-tree fallback segment), and both
    DISTINCTCOUNT and DISTINCTCOUNTBITMAP answer identically to
    count(DISTINCT) on the scan."""
    rng = np.random.default_rng(23)
    spec = st.StarTreeSpec(
        split_order=["city", "status"],
        function_column_pairs=["count__*", "distinctcountbitmap__other"],
        max_leaf_records=2,
    )
    for si in range(3):
        pdf = _seg_frame(rng)
        seg = str(tmp_path / f"seg_{si}")
        ps.write_segment_pandas(pdf, seg)
        if si != 2:
            st.write_star_trees(seg, pdf, [spec])
    h = HurricaneSQL(spark)
    h.register_segment_table("st_bitmap", str(tmp_path))
    for agg in ("DISTINCTCOUNT", "DISTINCTCOUNTBITMAP"):
        q = (
            f"SELECT city, {agg}(other) AS du FROM st_bitmap "
            "WHERE status IN ('A', 'B') GROUP BY city LIMIT 100"
        )
        fast = {r["city"]: r["du"] for r in h.sql(q).collect()}
        assert h.last_star_tree_redirect is not None, agg
        exact = {
            r["city"]: r["n"]
            for r in spark.sql(
                "SELECT city, count(DISTINCT other) AS n FROM st_bitmap "
                "WHERE status IN ('A', 'B') GROUP BY city"
            ).collect()
        }
        assert fast == exact, agg  # EXACT, not an estimate


def test_bitmap_pair_rejects_non_int(tmp_path):
    import pandas as pd

    pdf = pd.DataFrame({"d": ["x", "y"], "v": [1.5, 2.5]})
    seg = str(tmp_path / "seg_f")
    ps.write_segment_pandas(pdf, seg)
    with pytest.raises(ValueError, match="int column"):
        st.write_star_trees(
            seg,
            pdf,
            [st.StarTreeSpec(["d"], ["distinctcountbitmap__v"], 2)],
        )
