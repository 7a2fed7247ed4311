"""AND-composition of index access paths (round-8 item 5).

The reference intersects child filter-operator bitmaps under AND before
any forward-index read (FilterOperatorUtils.java:183-220). Here
`HurricaneSQL._index_pass` composes JSON_MATCH / TEXT_MATCH /
TEXT_CONTAINS / geo-radius conjuncts over one segment-backed table into
a single scan over per-segment INTERSECTED docId allowlists
(`read_segments(bounds=...)`), with the query's own WHERE re-applied
and only the referenced columns decoded. Every test
asserts exact equality with the pure expression path; the pruning tests
assert the intersection skips segments NO single index could skip.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sql.dialect import (
    HurricaneSQL,
    rewrite_functions,
    rewrite_json_match,
)
from tests.segment_decodes import collect_decoding

RES = 8


def _seg_frame(si: int, n: int = 150) -> pd.DataFrame:
    """Segment 0: alpha tags, 'hurricane storm' bodies, near-cluster
    points. Segment 1: beta tags, 'spark engine' bodies, far-cluster
    points. Segment 2: mixed everything (and carries NO indexes)."""
    tags, bodies, lons, lats = [], [], [], []
    for i in range(n):
        if si == 0:
            tag, body, lon, lat = "alpha", f"hurricane storm {i}", 10.0, 50.0
        elif si == 1:
            tag, body, lon, lat = "beta", f"spark engine {i}", 60.0, -20.0
        else:
            tag = "alpha" if i % 2 == 0 else "beta"
            body = f"spark hurricane {i}" if i % 3 == 0 else f"quiet day {i}"
            lon, lat = (10.0, 50.0) if i % 5 == 0 else (60.0, -20.0)
        tags.append(tag)
        bodies.append(body)
        lons.append(lon + (i % 10) * 1e-3)
        lats.append(lat + (i % 10) * 1e-3)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64) + 1000 * si,
            "props": [f'{{"tag": "{t}", "num": {i % 20}}}' for i, t in enumerate(tags)],
            "body": bodies,
            "loc": [f"POINT ({lon} {lat})" for lon, lat in zip(lons, lats)],
        }
    )


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    base = tmp_path_factory.mktemp("compose_store")
    for si in range(3):
        kw = (
            {}
            if si == 2
            else {
                "json_index_columns": ["props"],
                "text_index_columns": ["body"],
                "geo_index_columns": {"loc": RES},
            }
        )
        ps.write_segment_pandas(_seg_frame(si), str(base / f"seg_{si}"), **kw)
    return str(base)


@pytest.fixture(scope="module")
def hq(spark, store):
    h = HurricaneSQL(spark)
    h.register_segment_table("cmp_docs", store)
    return h


GEO_NEAR = (
    "ST_Distance(ST_GeomFromText(loc), ST_Point(10.0, 50.0)) < 5000"
)

COMPOSED = [
    # (query WHERE clause, expected access-path kinds)
    (
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "AND TEXT_MATCH(body, 'spark')",
        ["JSON_INDEX", "TEXT_INDEX"],
    ),
    (
        "JSON_MATCH(props, '\"$.tag\" = ''beta''') "
        "AND TEXT_CONTAINS(body, 'hurricane')",
        ["JSON_INDEX", "TEXT_INDEX"],
    ),
    (
        f"TEXT_MATCH(body, 'hurricane') AND {GEO_NEAR}",
        ["H3_INDEX", "TEXT_INDEX"],
    ),
    (
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        f"AND TEXT_MATCH(body, 'hurricane') AND {GEO_NEAR}",
        ["H3_INDEX", "JSON_INDEX", "TEXT_INDEX"],
    ),
    (
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "AND TEXT_MATCH(body, 'spark') AND id >= 0",
        ["JSON_INDEX", "TEXT_INDEX"],
    ),
]


def _expected_ids(spark, where: str) -> list[int]:
    q = rewrite_functions(
        rewrite_json_match(f"SELECT id FROM cmp_docs WHERE {where}")
    )
    return sorted(r["id"] for r in spark.sql(q).collect())


@pytest.mark.parametrize("where,kinds", COMPOSED)
def test_composed_equals_expression_path(spark, hq, where, kinds):
    fast = hq.sql(f"SELECT id FROM cmp_docs WHERE {where}", default_limit=None)
    got = sorted(r["id"] for r in fast.collect())
    assert hq.last_multi_index_accel == kinds
    assert got == _expected_ids(spark, where)
    assert got, f"degenerate test: no rows matched {where}"


def _scan_outputs(df) -> list[list[str]]:
    """Output column names of each segment-decode MapInPandas node in
    the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        [a.split("#")[0] for a in m.group(1).split(", ")]
        for m in re.finditer(r"MapInPandas \w+\([^)]*\)#\d+, \[([^\]]*)\]", plan)
    ]


@pytest.mark.parametrize(
    "where,used",
    [
        ("JSON_MATCH(props, '\"$.tag\" = ''alpha''')", ["id", "props"]),
        ("TEXT_MATCH(body, 'spark')", ["body", "id"]),
        ("TEXT_CONTAINS(body, 'hurricane')", ["body", "id"]),
        (GEO_NEAR, ["id", "loc"]),
        (COMPOSED[0][0], ["body", "id", "props"]),
    ],
)
def test_accelerated_scan_decodes_only_referenced_columns(spark, hq, where, used):
    """An index-accelerated scan prunes columns like a plain scan: the
    decode emits only the columns the query names, and the rows are the
    expression scan's."""
    fast = hq.sql(f"SELECT id FROM cmp_docs WHERE {where}", default_limit=None)
    assert hq.last_column_prune == ("cmp_docs", used)
    assert _scan_outputs(fast) == [used]
    got = sorted(r["id"] for r in fast.collect())
    assert got == _expected_ids(spark, where) and got


def test_intersection_prunes_beyond_any_single_index(hq):
    # json tag=alpha matches segments {0, 2}; text 'spark' matches
    # {1, 2}: only segment 2 (index-less, full decode) survives the
    # intersection — one decode, where either single index alone keeps two
    fast = hq.sql(
        "SELECT id FROM cmp_docs WHERE "
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "AND TEXT_MATCH(body, 'spark')",
        default_limit=None,
    )
    assert hq.last_multi_index_accel == ["JSON_INDEX", "TEXT_INDEX"]
    assert collect_decoding(fast)[1] == 1


def test_empty_intersection_everywhere(spark, hq):
    # beta (segments 1,2) AND 'hurricane' (0,2) AND near-radius (0,2):
    # indexed segments are all pruned; segment 2 decodes and the
    # residual leaves only its beta+hurricane+near rows
    where = (
        "JSON_MATCH(props, '\"$.tag\" = ''beta''') "
        f"AND TEXT_MATCH(body, 'hurricane') AND {GEO_NEAR}"
    )
    fast = hq.sql(f"SELECT id FROM cmp_docs WHERE {where}", default_limit=None)
    got = sorted(r["id"] for r in fast.collect())
    assert got == _expected_ids(spark, where)


def test_unsafe_shapes_keep_scan(spark, hq):
    for where in (
        # OR between the calls: not a conjunction
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "OR TEXT_MATCH(body, 'spark')",
        # NOT around a call
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "AND NOT TEXT_MATCH(body, 'spark')",
    ):
        fast = hq.sql(
            f"SELECT id FROM cmp_docs WHERE {where}", default_limit=None
        )
        got = sorted(r["id"] for r in fast.collect())
        assert hq.last_multi_index_accel is None
        assert got == _expected_ids(spark, where)


def test_single_call_keeps_dedicated_path(hq):
    hq.sql(
        "SELECT id FROM cmp_docs WHERE TEXT_MATCH(body, 'spark')",
        default_limit=None,
    ).collect()
    assert hq.last_multi_index_accel is None
    assert hq.last_text_match_accel


def test_explain_lists_composed_access_path(hq):
    plan = hq.sql(
        "EXPLAIN IMPLEMENTATION PLAN FOR "
        "SELECT id FROM cmp_docs WHERE "
        "JSON_MATCH(props, '\"$.tag\" = ''alpha''') "
        "AND TEXT_MATCH(body, 'spark')"
    ).collect()[0]["plan"]
    assert "AND_COMPOSED(JSON_INDEX, TEXT_INDEX)" in plan


@pytest.mark.parametrize(
    "where,line",
    [
        (
            "JSON_MATCH(props, '\"$.tag\" = ''alpha''')",
            "accessPath: JSON_INDEX (segment skip + docId allowlist + residual)",
        ),
        (
            "TEXT_MATCH(body, 'spark')",
            "accessPath: TEXT_INDEX (posting algebra + residual)",
        ),
        (
            "TEXT_CONTAINS(body, 'spark')",
            "accessPath: TEXT_INDEX (term posting + residual)",
        ),
        (GEO_NEAR, "accessPath: H3_INDEX (candidate cells + residual)"),
    ],
)
def test_explain_names_single_index_access_path(hq, where, line):
    plan = hq.sql(
        f"EXPLAIN IMPLEMENTATION PLAN FOR SELECT id FROM cmp_docs WHERE {where}"
    ).collect()[0]["plan"]
    assert plan.splitlines()[0] == line
    assert plan.count("accessPath") == 1


@pytest.mark.parametrize(
    "rest,accelerated",
    [
        ("props <> 'alpha OR (NOT beta)'", True),
        # Spark reads \' as an escaped quote and "..." as a string: the
        # OR after them is real, so the scan is kept
        ("props = 'it\\'s' OR id = 5", False),
        ('props = "a--b" OR id = 5', False),
        ('props = "/*" OR id = 5', False),
    ],
)
def test_literal_text_never_decides_the_shape(spark, hq, rest, accelerated):
    """OR / NOT / parens inside a string literal are data, lexed the way
    Spark lexes them: the single call takes its index exactly when the
    rest of the WHERE is a plain AND chain, and the rows are the scan's."""
    where = f"TEXT_MATCH(body, 'spark') AND {rest}"
    fast = hq.sql(f"SELECT id FROM cmp_docs WHERE {where}", default_limit=None)
    got = sorted(r["id"] for r in fast.collect())
    assert hq.last_text_match_accel == accelerated
    assert got == _expected_ids(spark, where) and got


def test_other_kind_outside_where_keeps_single_path(spark, hq):
    """A call of another kind in the projection does not filter rows:
    the WHERE's single call still takes its index."""
    q = (
        "SELECT id, TEXT_MATCH(body, 'spark') AS hit FROM cmp_docs "
        "WHERE JSON_MATCH(props, '\"$.tag\" = ''alpha''')"
    )
    fast = sorted(tuple(r) for r in hq.sql(q, default_limit=None).collect())
    assert hq.last_json_match_accel and hq.last_multi_index_accel is None
    slow = sorted(
        tuple(r)
        for r in spark.sql(rewrite_functions(rewrite_json_match(q))).collect()
    )
    assert fast == slow and fast


def test_group_by_aggregate_through_composition(spark, hq):
    where = (
        "JSON_MATCH(props, '\"$.num\" IS NOT NULL') "
        "AND TEXT_MATCH(body, 'hurricane')"
    )
    q = (
        "SELECT jsonExtractScalar(props, '$.tag', 'STRING') AS tag, "
        f"COUNT(*) AS n FROM cmp_docs WHERE {where} GROUP BY 1 ORDER BY 1"
    )
    fast = [tuple(r) for r in hq.sql(q, default_limit=None).collect()]
    slow = [
        tuple(r)
        for r in spark.sql(rewrite_functions(rewrite_json_match(q))).collect()
    ]
    assert fast == slow and fast
