"""The per-store parts of a segment scan are built once and reused:
parsed segment metadata (`read_segment_metadata`, checked against the
files' stat on every read), the id leaf of each session and plan count,
and one plain scan per (session, segments, columns). Each test checks
that the reuse never serves a stale store, another session's frames or
a table name that now names something else.
"""

from __future__ import annotations

import gc
import os
import weakref

import numpy as np
import pandas as pd
import pytest

from hurricanedb_spark.sources import native_text_index as nti
from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sources import startree_v2 as st
from hurricanedb_spark.sql.dialect import (
    HurricaneSQL,
    rewrite_functions,
    rewrite_json_match,
)
from tests.test_pinot_segment import _decoded_segments

SPEC = st.StarTreeSpec(
    split_order=["lang"], function_column_pairs=["count__*"], max_leaf_records=2
)


def _frame(si: int, n: int) -> pd.DataFrame:
    """Segment `si`: 'storm' texts only in odd segments."""
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64) + 1000 * si,
            "lang": [("en", "de", "fr")[(i + si) % 3] for i in range(n)],
            "text": [
                f"storm {i}" if si % 2 and i % 3 == 0 else f"calm {i}"
                for i in range(n)
            ],
            "props": ['{"k": "%d"}' % (i % 4) for i in range(n)],
        }
    )


def _store(base, frames, **options) -> list[str]:
    segs = []
    for si, pdf in enumerate(frames):
        seg = os.path.join(str(base), f"seg_{si}")
        ps.write_segment_pandas(pdf, seg, **options)
        segs.append(seg)
    return segs


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _plain(spark, q: str) -> list[tuple]:
    return _rows(spark.sql(rewrite_functions(rewrite_json_match(q))))


STAR_Q = "SELECT lang, COUNT(*) AS n FROM docs GROUP BY lang"


def test_v3_segment_rewritten_in_place_is_seen_next_query(spark, tmp_path):
    """A v3 store rewritten in place (same files, new rows, a star-tree
    added): the next query of the same HurricaneSQL takes the tree and
    reads the new rows, on the driver and in the reused workers."""
    segs = _store(tmp_path, [_frame(0, 30), _frame(1, 30)])
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    assert _rows(hq.sql(STAR_Q, default_limit=None)) == [
        ("de", 20), ("en", 20), ("fr", 20)
    ]
    assert hq.last_star_tree_redirect is None  # no tree yet

    new = [_frame(0, 45), _frame(1, 30)]
    for seg, pdf in zip(segs, new):
        ps.write_segment_pandas(pdf, seg, star_tree_specs=[SPEC])
    want = sorted(pd.concat(new).groupby("lang").size().items())
    got = _rows(hq.sql(STAR_Q, default_limit=None))
    assert got == [(k, int(v)) for k, v in want]
    assert hq.last_star_tree_redirect["segments_tree"] == 2
    # the shared plain scan behind the registered view decodes the new rows
    count = hq.sql("SELECT COUNT(*) AS n, SUM(id) AS s FROM docs", default_limit=None)
    both = pd.concat(new)
    assert _rows(count) == [(len(both), int(both["id"].sum()))]


def test_v1_index_file_added_is_seen_next_query(spark, tmp_path):
    """A v1/v2 segment gains a standalone text index file while its
    metadata.properties stays untouched: the next TEXT_MATCH query
    prunes with it."""
    frames = [_frame(0, 30), _frame(1, 30)]
    segs = _store(tmp_path, frames, layout="v1")
    props = os.path.join(segs[0], ps.METADATA_FILE)
    before = os.stat(props).st_mtime_ns
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    q = "SELECT id FROM docs WHERE TEXT_MATCH(text, 'storm')"
    want = _plain(spark, q)
    assert len(want) == 10

    scan = hq.sql(q, default_limit=None)
    assert _rows(scan) == want and hq.last_text_match_accel
    assert _decoded_segments(scan) == 2  # no index: both segments decode

    for seg, pdf in zip(segs, frames):
        with open(os.path.join(seg, "text.nativetext.idx"), "wb") as f:
            f.write(nti.encode_native_text_index(pdf["text"]))
    assert os.stat(props).st_mtime_ns == before
    pruned = hq.sql(q, default_limit=None)
    assert _rows(pruned) == want and hq.last_text_match_accel
    assert _decoded_segments(pruned) == 1  # segment 0 holds no 'storm'


def test_sessions_never_share_scans(spark, tmp_path):
    """Two sessions over one store: each gets its own frames, built on
    its own JVM session, and its own projection of the table; a
    session's frames go when the session does."""
    segs = _store(tmp_path, [_frame(0, 20), _frame(1, 20)])
    s1, s2 = spark.newSession(), spark.newSession()
    h1, h2 = HurricaneSQL(s1), HurricaneSQL(s2)
    h1.register_segment_table("docs", str(tmp_path))
    h2.register_segment_table("docs", str(tmp_path), columns=["id", "lang"])

    assert h1.sql("SELECT * FROM docs", default_limit=None).columns == [
        "id", "lang", "props", "text"
    ]
    assert h2.sql("SELECT * FROM docs", default_limit=None).columns == ["id", "lang"]
    q = "SELECT lang, SUM(id) AS s FROM docs GROUP BY lang"
    want = _plain(s1, q)
    assert _rows(h1.sql(q, default_limit=None)) == want
    assert _rows(h2.sql(q, default_limit=None)) == want
    assert h1.last_column_prune == ("docs", ["id", "lang"])
    assert h2.last_column_prune is None  # its view holds only those

    a1 = ps.read_segments(s1, segs, ["id"])
    a2 = ps.read_segments(s2, segs, ["id"])
    assert ps.read_segments(s1, segs, ["id"])._jdf is a1._jdf  # reused
    assert a2._jdf is not a1._jdf
    for s, df in ((s1, a1), (s2, a2)):
        assert df.sparkSession is s
        assert df._jdf.sparkSession().equals(s._jsparkSession)

    s3 = spark.newSession()
    ps.read_segments(s3, segs, ["id"]).collect()
    held = len(ps._SESSION_FRAMES)
    gone = weakref.ref(s3)
    del s3
    spark.newSession()  # PySpark's RDD.toDF holds the newest session
    gc.collect()
    assert gone() is None
    assert len(ps._SESSION_FRAMES) == held - 1


@pytest.fixture
def indexed_store(tmp_path):
    frames = [_frame(0, 40), _frame(1, 40)]
    _store(
        tmp_path, frames, star_tree_specs=[SPEC],
        text_index_columns=["text"], json_index_columns=["props"],
    )
    return str(tmp_path)


def test_register_replaces_a_segment_table(spark, indexed_store):
    """hq.register() over a segment table's name: the star-tree, index
    and column-prune passes all read the new table, as spark.sql does."""
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", indexed_store)
    queries = [
        ("SELECT COUNT(*) AS n FROM docs", "last_star_tree_redirect"),
        ("SELECT COUNT(*) AS n FROM docs WHERE TEXT_MATCH(text, 'storm')",
         "last_text_match_accel"),
        ("SELECT SUM(id) AS s FROM docs", "last_column_prune"),
    ]
    for q, note in queries:
        hq.sql(q, default_limit=None).collect()
        assert getattr(hq, note), q

    one = spark.createDataFrame(
        [(7, "en", "storm 7", '{"k": "1"}')], "id long, lang string, text string, props string"
    )
    hq.register("DOCS", one)  # view names are case-insensitive
    for (q, note), want in zip(queries, ([(1,)], [(1,)], [(7,)])):
        got = _rows(hq.sql(q, default_limit=None))
        assert got == _plain(spark, q) == want, q
        assert not getattr(hq, note), q
        assert hq.last_column_prune is None, q


def test_warm_json_match_py4j_calls(spark, indexed_store):
    """A warm JSON_MATCH sql() makes 42 py4j calls: 32 in PySpark's
    mapInPandas (the per-query closure), 5 in spark.sql, 3 reading the
    table's columns, 2 binding and dropping the uuid view. The id leaf
    and the segment metadata are reused, so none goes to planning a
    Range or to the SparkContext. gc is off and py4j's object-release
    commands are not counted, so finalizers do not move the number."""
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", indexed_store)
    q = "SELECT lang, COUNT(*) AS n FROM docs WHERE JSON_MATCH(props, '\"$.k\" = ''1''') GROUP BY lang"
    for _ in range(2):
        hq.sql(q, default_limit=None).collect()
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        df = hq.sql(q, default_limit=None)
    finally:
        client.send_command = send
        gc.enable()
    assert hq.last_json_match_accel
    assert len(calls) == 42, calls
    assert _rows(df) == _plain(spark, q)
