"""JSON index wired into JSON_MATCH evaluation over segment stores.

Round-5 VERDICT item 7: when a `.json.idx` exists, prune docs through it
and assert equivalence with the expression path. The accelerated scan
(sources/json_index.py:read_segments_json_match) must return EXACTLY the
expression path's rows in every case: index present, index absent,
condition index-supported, and condition requiring fallback.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hurricanedb_spark.sources import json_index as ji
from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sql.json_match import translate_json_match
from tests.segment_decodes import collect_decoding


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    """Three segments: 0 has tag alpha+beta docs, 1 has only beta docs,
    2 has alpha docs but NO json index (fallback path)."""
    base = tmp_path_factory.mktemp("json_store")
    rng = np.random.default_rng(3)
    segs = []
    for si, tags in enumerate((["alpha", "beta"], ["beta"], ["alpha", "gamma"])):
        rows = []
        for i in range(120):
            doc = {
                "tag": tags[i % len(tags)],
                "num": int(rng.integers(0, 20)),
                "nested": {"city": f"c{i % 4}"},
            }
            if i % 7 == 0:
                doc.pop("tag")  # exercise IS NOT NULL
            rows.append(json.dumps(doc))
        pdf = pd.DataFrame(
            {"id": np.arange(120, dtype=np.int64) + 1000 * si, "props": rows}
        )
        seg = str(base / f"segment_{si:02d}")
        ps.write_segment_pandas(
            pdf, seg, json_index_columns=None if si == 2 else ["props"]
        )
        segs.append(seg)
    return segs


CONDITIONS = [
    '"$.tag" = \'alpha\'',          # index-supported; prunes segment 1
    '"$.tag" = \'gamma\'',          # only in the index-less segment
    '"$.tag" IS NOT NULL',          # existence
    '"$.nested.city" = \'c2\' AND "$.tag" = \'beta\'',  # conjunction
    '"$.tag" = \'nowhere\'',        # empty result
    '"$.num" > 5',                  # NOT index-supported -> fallback
    '"$.tag" = \'alpha\' OR "$.num" > 15',  # OR -> fallback
]


@pytest.mark.parametrize("cond", CONDITIONS)
def test_accelerated_scan_equals_expression_path(spark, store, cond):
    fast = ji.read_segments_json_match(spark, store, "props", cond)
    slow = ps.read_segments(spark, store).filter(
        F.expr(translate_json_match("props", cond))
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )


def test_segment_level_pruning_observable(spark, store):
    # 'alpha' never occurs in segment 1 (beta only): its posting is empty,
    # so the accelerated plan decodes the SURVIVING segments only
    fast = ji.read_segments_json_match(spark, store, "props", '"$.tag" = \'alpha\'')
    assert collect_decoding(fast)[1] == 2  # segments 0 and 2 (index-less)
    # and a value that exists nowhere with an index prunes to just the
    # index-less segment
    fast2 = ji.read_segments_json_match(
        spark, store, "props", '"$.tag" = \'beta\' AND "$.nested.city" = \'zz\''
    )
    assert collect_decoding(fast2)[1] == 1


def test_row_level_docid_mask(store):
    # the shipped roaring mask restricts decode output before the residual
    seg = store[0]
    idx = ji.read_json_index(seg, "props")
    docs = idx.matching_docs([("$.tag", "alpha")])
    assert 0 < len(docs) < 120
    pdf = ps.read_segment_pandas(seg, doc_ids=docs)
    assert len(pdf) == len(docs)
    assert all(json.loads(s).get("tag") == "alpha" for s in pdf["props"])


def test_numeric_equality_is_never_index_answered():
    # "$.k" = 5 must match a doc storing 5.0 (expression CASTs to DOUBLE);
    # the posting for '5' would miss it — so numeric equality falls back
    assert ji.index_supported_conjunction('"$.k" = 5') is None
    assert ji.index_supported_conjunction('"$.k" = \'5\'') == [("$.k", "5")]


def test_dialect_sql_uses_index_for_segment_tables(spark, store, tmp_path):
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark)
    base = os.path.dirname(store[0])
    hdb.register_segment_table("jdocs", base)
    res = hdb.sql(
        "SELECT COUNT(*) AS n FROM jdocs "
        "WHERE JSON_MATCH(props, '\"$.tag\" = ''alpha''')",
        default_limit=None,
    ).collect()
    expected = (
        ps.read_segments(spark, store)
        .filter(F.expr(translate_json_match("props", '"$.tag" = \'alpha\'')))
        .count()
    )
    assert res[0]["n"] == expected
    # the shared view is never mutated (unique accel views per query):
    # a different predicate on the same view still sees the full table
    res2 = hdb.sql(
        "SELECT COUNT(*) AS n FROM jdocs "
        "WHERE JSON_MATCH(props, '\"$.tag\" = ''beta''')",
        default_limit=None,
    ).collect()
    expected2 = (
        ps.read_segments(spark, store)
        .filter(F.expr(translate_json_match("props", '"$.tag" = \'beta\'')))
        .count()
    )
    assert res2[0]["n"] == expected2
    # and a plain scan of the view is unfiltered
    assert hdb.sql(
        "SELECT COUNT(*) AS n FROM jdocs", default_limit=None
    ).collect()[0]["n"] == 360


def test_not_null_object_path_never_index_answered(tmp_path):
    """Round-6 review finding (reproduced): flatten posts only scalar
    leaves, so '$.nested' IS NOT NULL has no bare-key posting while the
    expression path matches the serialized object — therefore IS NOT
    NULL (and JSON-looking literals) must never be index-answered."""
    assert ji.index_supported_conjunction('"$.nested" IS NOT NULL') is None
    assert ji.index_supported_conjunction('"$.k" = \'{"a": 1}\'') is None
    assert ji.index_supported_conjunction('"$.k" = \'[1,2]\'') is None


@pytest.mark.parametrize(
    "shape",
    [
        "SELECT COUNT(*) AS n FROM {t} WHERE NOT JSON_MATCH(props, {c})",
        "SELECT COUNT(*) AS n FROM {t} "
        "WHERE JSON_MATCH(props, {c}) OR id < 1090",
        "SELECT COUNT(*) AS n FROM {t} "
        "WHERE id >= 0 AND (JSON_MATCH(props, {c}) OR id < 1090)",
    ],
)
def test_dialect_unsafe_shapes_fall_back_correctly(spark, store, shape):
    """NOT / OR / parenthesized placements must NOT use the pre-filtered
    source (they would lose rows) — results must equal the expression
    path over the full table."""
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark)
    base = os.path.dirname(store[0])
    hdb.register_segment_table("jdocs_u", base)
    cond_sql = "'\"$.tag\" = ''alpha''')".rstrip(")")
    q = shape.format(t="jdocs_u", c=cond_sql)
    got = hdb.sql(q, default_limit=None).collect()[0]["n"]
    full = ps.read_segments(spark, store)
    expr = F.expr(translate_json_match("props", '"$.tag" = \'alpha\''))
    if "NOT JSON_MATCH" in q:
        want = full.filter(~expr).count()
    elif "OR id < 1090" in q:
        want = full.filter(expr | (F.col("id") < 1090)).count()
    assert got == want


def test_dialect_projection_placement_falls_back(spark, store):
    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark)
    base = os.path.dirname(store[0])
    hdb.register_segment_table("jdocs_p", base)
    rows = hdb.sql(
        "SELECT id, JSON_MATCH(props, '\"$.tag\" = ''alpha''') AS flag "
        "FROM jdocs_p",
        default_limit=None,
    ).collect()
    assert len(rows) == 360  # every row survives; flag marks matches
    n_true = sum(1 for r in rows if r["flag"])
    expr = F.expr(translate_json_match("props", '"$.tag" = \'alpha\''))
    assert n_true == ps.read_segments(spark, store).filter(expr).count()


def test_dialect_concurrent_queries_never_see_filtered_view(spark, store):
    """The accelerated scan binds to a UNIQUE temp view; the shared view
    is never mutated, so a concurrent plain query can never observe the
    filtered source (round-6 review finding)."""
    import threading

    from hurricanedb_spark.sql.dialect import HurricaneSQL

    hdb = HurricaneSQL(spark)
    base = os.path.dirname(store[0])
    hdb.register_segment_table("jdocs_c", base)
    errors = []

    def plain_counts():
        try:
            for _ in range(5):
                n = hdb.sql(
                    "SELECT COUNT(*) AS n FROM jdocs_c", default_limit=None
                ).collect()[0]["n"]
                assert n == 360, n
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def accelerated():
        try:
            for _ in range(5):
                hdb.sql(
                    "SELECT COUNT(*) AS n FROM jdocs_c "
                    "WHERE JSON_MATCH(props, '\"$.tag\" = ''alpha''')",
                    default_limit=None,
                ).collect()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=plain_counts) for _ in range(2)] + [
        threading.Thread(target=accelerated) for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_object_path_not_null_equivalence_end_to_end(spark, tmp_path):
    """The reproduced round-6 divergence: '$.nested' IS NOT NULL over a
    doc holding an object — the accelerated scan must now fall back and
    match the expression path exactly."""
    pdf = pd.DataFrame(
        {
            "id": np.arange(6, dtype=np.int64),
            "props": [
                json.dumps({"nested": {"city": f"c{i}"}})
                if i % 2
                else json.dumps({"flat": i})
                for i in range(6)
            ],
        }
    )
    seg = str(tmp_path / "objseg")
    ps.write_segment_pandas(pdf, seg, json_index_columns=["props"])
    cond = '"$.nested" IS NOT NULL'
    fast = ji.read_segments_json_match(spark, [seg], "props", cond)
    slow = ps.read_segments(spark, [seg]).filter(
        F.expr(translate_json_match("props", cond))
    )
    got = sorted(r["id"] for r in fast.collect())
    want = sorted(r["id"] for r in slow.collect())
    assert got == want == [1, 3, 5]


def test_projection_excluding_predicate_column(spark, store):
    # columns=["id"] excludes "props": the predicate column is decoded as
    # an extra and dropped after the residual (round-6 advice), matching
    # read_segments(where=...)'s extra-column handling
    cond = '"$.tag" = \'alpha\''
    fast = ji.read_segments_json_match(spark, store, "props", cond, columns=["id"])
    assert fast.columns == ["id"]
    slow = (
        ps.read_segments(spark, store)
        .filter(F.expr(translate_json_match("props", cond)))
        .select("id")
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    )
