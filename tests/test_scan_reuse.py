"""The per-store parts of a segment scan are built once and reused:
parsed segment metadata (`read_segment_metadata`, checked against the
files' stat on every read), the id leaf of each session, plan count and
task count, and the rows of the dialect's column-pruned and star-tree scans, persisted per (session,
segments, projection) and checked against the segments' versions on
every query. Each test checks that the reuse never serves a stale
store, another session's frames or a table name that now names
something else, and that a dropped entry leaves nothing cached.
"""

from __future__ import annotations

import gc
import os
import threading
import time
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
from hurricanedb_spark.sql.server import serve
from tests.segment_decodes import (
    collect_decoding,
    collect_jobs,
    decode_tasks,
    decoded_segments,
    small_batches,
)
from tests.test_server import _post

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
PRUNED_Q = "SELECT lang, SUM(id) AS s FROM docs GROUP BY lang"


def _scan_cache(hq) -> str | None:
    """The `scan_cache` note of hq's last sql() on this thread."""
    return next((n["scan_cache"] for n in hq._request.notes if "scan_cache" in n), None)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _cache_views(spark) -> list[str]:
    return [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("__prune_accel_", "__st_accel_"))
    ]


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
    assert decoded_segments(scan) == 2  # no index: both segments decode

    for seg, pdf in zip(segs, frames):
        with open(os.path.join(seg, "text.nativetext.idx"), "wb") as f:
            f.write(nti.encode_native_text_index(pdf["text"]))
    assert os.stat(props).st_mtime_ns == before
    pruned = hq.sql(q, default_limit=None)
    assert _rows(pruned) == want and hq.last_text_match_accel
    assert decoded_segments(pruned) == 1  # segment 0 holds no 'storm'


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
    for s, df in ((s1, a1), (s2, a2)):
        assert df.sparkSession is s
        assert df._jdf.sparkSession().equals(s._jsparkSession)

    s3 = spark.newSession()
    ps.read_segments(s3, segs, ["id"]).collect()
    gc.collect()  # sessions other tests left behind go first
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
    (coalesced to one partition on this small store), the task bounds
    and the segment metadata are reused, so none goes to planning a
    Range, to the SparkContext or to the session's conf. gc is off and py4j's object-release
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


# (query, the note its access path sets, segments it decodes)
AGGREGATES = [
    (STAR_Q, "last_star_tree_redirect", 2),
    (PRUNED_Q, "last_column_prune", 2),
    (
        "SELECT lang, COUNT(*) AS n FROM docs WHERE TEXT_MATCH(text, 'storm') GROUP BY lang",
        "last_text_match_accel",
        1,  # 'storm' is only in segment 1
    ),
    (
        "SELECT lang, COUNT(*) AS n FROM docs "
        "WHERE JSON_MATCH(props, '\"$.k\" = ''1''') GROUP BY lang",
        "last_json_match_accel",
        2,
    ),
    # every column: the registered view itself
    (
        "SELECT lang, COUNT(*) AS n, MAX(id) AS m, MIN(text) AS t, MIN(props) AS p "
        "FROM docs GROUP BY lang",
        None,
        2,
    ),
]


@pytest.mark.parametrize("batch", [None, 10])
def test_decode_tasks_follow_the_rows(spark, indexed_store, batch):
    """A store under one Arrow batch of rows (2 segments, 80 rows)
    decodes in one task, which the planner sees as one partition: its
    aggregates (over the cached star-tree and pruned views, the TEXT and
    JSON index scans and the registered view) run in one job with no
    Exchange. With a 10-row batch the store is over the bound: a scan
    keeps min(#segments, cores) tasks, and an aggregate over two
    segments shuffles."""
    session = spark if batch is None else small_batches(spark, batch)
    hq = HurricaneSQL(session)
    hq.register_segment_table("docs", indexed_store)
    for q, note, segments in AGGREGATES:
        hq.sql(q, default_limit=None).collect()  # builds a cached view
        df = hq.sql(q, default_limit=None)
        rows, jobs = collect_jobs(df)
        assert note is None or getattr(hq, note), q
        assert note or not (hq.last_column_prune or hq.last_star_tree_redirect), q
        assert sorted(tuple(r) for r in rows) == _plain(session, q), q
        tasks = 1 if batch is None else segments
        assert decode_tasks(df) == [tasks], q
        plan = df._jdf.queryExecution().executedPlan().toString()
        if tasks == 1:
            assert jobs == 1 and "Exchange" not in plan, plan
        else:
            assert "Exchange" in plan, plan


def test_repeated_queries_read_the_in_memory_cache(spark, tmp_path):
    """The first pruned and the first star-tree query decode the store
    and fill the cache; a repeat reads InMemoryTableScan, decodes no
    segment and returns the same rows."""
    _store(tmp_path, [_frame(0, 30), _frame(1, 30)], star_tree_specs=[SPEC])
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    for q, note in ((PRUNED_Q, "last_column_prune"), (STAR_Q, "last_star_tree_redirect")):
        first, n = collect_decoding(hq.sql(q, default_limit=None))
        assert getattr(hq, note) and _scan_cache(hq) == "build", q
        assert n == 2, q
        again = hq.sql(q, default_limit=None)
        rows, n = collect_decoding(again)
        assert _scan_cache(hq) == "hit" and n == 0, q
        assert "InMemoryTableScan" in again._jdf.queryExecution().executedPlan().toString()
        assert sorted(rows) == sorted(first) == _plain(spark, q), q


def test_new_versions_are_seen_by_the_next_query(spark, tmp_path):
    """Three changes that each leave other files' stat alone are seen by
    the next query, which rebuilds the entry and unpersists the old one:
    a new valid-docId snapshot, a v3 rewrite in place that changes only
    columns.psf (the metadata files keep their bytes and mtimes), and a
    rewrite that adds rows under the star-tree."""
    frames = [_frame(0, 30), _frame(1, 30)]
    segs = _store(tmp_path, frames, star_tree_specs=[SPEC])
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    base = _persisted(spark)

    def check(q):
        rows = _rows(hq.sql(q, default_limit=None))
        assert rows == _plain(spark, q), q
        return rows

    before = check(PRUNED_Q)
    assert _scan_cache(hq) == "build" and _persisted(spark) == base + 1
    ps.write_valid_doc_ids(segs[0], list(range(10)))
    assert check(PRUNED_Q) != before and _scan_cache(hq) == "build"
    assert _persisted(spark) == base + 1  # the replaced entry is unpersisted

    d = os.path.join(segs[1], ps.V3_SUBDIR)
    kept = {
        f: os.stat(os.path.join(d, f)) for f in (ps.METADATA_FILE, ps.INDEX_MAP_FILE)
    }
    moved = frames[1].assign(lang=frames[1]["lang"].iloc[::-1].to_numpy())
    ps.write_segment_pandas(moved, segs[1], star_tree_specs=[SPEC])
    for f, st_ in kept.items():
        os.utime(os.path.join(d, f), ns=(st_.st_atime_ns, st_.st_mtime_ns))
        now = os.stat(os.path.join(d, f))
        assert (now.st_ino, now.st_size, now.st_mtime_ns) == (
            st_.st_ino, st_.st_size, st_.st_mtime_ns
        )
    mid = check(PRUNED_Q)
    assert _scan_cache(hq) == "build"
    want = pd.concat([frames[0].iloc[:10], moved]).groupby("lang")["id"].sum()
    assert mid == [(k, int(v)) for k, v in want.items()]

    # dropping the snapshot is a new version too, and lets segment 0's tree answer
    os.remove(os.path.join(segs[0], ps.V3_SUBDIR, ps.VALID_DOC_IDS_FILE))
    assert check(STAR_Q) and _scan_cache(hq) == "build"
    ps.write_segment_pandas(_frame(1, 45), segs[1], star_tree_specs=[SPEC])
    want = pd.concat([frames[0], _frame(1, 45)]).groupby("lang").size()
    assert check(STAR_Q) == [(k, int(v)) for k, v in want.items()]
    assert _scan_cache(hq) == "build" and hq.last_star_tree_redirect["segments_tree"] == 2
    assert _persisted(spark) == base + 2


def test_star_tree_redirect_honours_the_valid_doc_snapshot(spark, tmp_path):
    """Two 30-doc segments with trees, docs 0-9 of one kept valid by an
    upsert snapshot: the tree counts every doc, so that segment answers
    from its raw fallback, which keeps only the valid ones, and the
    redirect returns what the registered view does (13/14/13, not
    20/20/20). A store whose every segment has a snapshot takes the
    scan."""
    segs = _store(tmp_path, [_frame(0, 30), _frame(1, 30)], star_tree_specs=[SPEC])
    ps.write_valid_doc_ids(segs[0], list(range(10)))
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    want = [("de", 13), ("en", 14), ("fr", 13)]
    assert _plain(spark, STAR_Q) == want
    assert _rows(hq.sql(STAR_Q, default_limit=None)) == want
    info = hq.last_star_tree_redirect
    assert (info["segments_tree"], info["segments_scan"]) == (1, 1)
    direct = st.read_segments_star_tree(spark, segs, ["lang"], ["count__*"])
    assert _rows(direct.groupBy("lang").sum()) == want

    ps.write_valid_doc_ids(segs[1], list(range(30)))
    assert _rows(hq.sql(STAR_Q, default_limit=None)) == want
    assert hq.last_star_tree_redirect is None


def test_a_held_view_outlives_its_entry(spark, tmp_path):
    """A request that bound a cached view keeps it while the entry is
    replaced twice and then dropped: its query still analyzes (and
    decodes the segments as they are now). The view goes with the
    request's release, while the current entry's view stays."""
    segs = _store(tmp_path, [_frame(0, 20), _frame(1, 20)])
    base = _persisted(spark)
    view, cache, release = ps.scan_view(spark, segs, ["id", "lang"])
    assert cache == "build"
    for keep in (10, 5):
        ps.write_valid_doc_ids(segs[0], list(range(keep)))
        newer, cache, let_go = ps.scan_view(spark, segs, ["id", "lang"])
        assert cache == "build" and newer != view
        assert _rows(spark.sql(f"SELECT COUNT(*) AS n FROM {newer}")) == [(20 + keep,)]
        let_go()
    assert _persisted(spark) == base + 1  # replaced entries are unpersisted
    df = spark.sql(f"SELECT COUNT(*) AS n FROM {view}")
    release()
    assert _rows(df) == [(25,)]
    assert view not in _cache_views(spark) and newer in _cache_views(spark)

    view, _, release = ps.scan_view(spark, segs, ["id", "lang"])
    assert view == newer
    ps.drop_session_frames(spark, segs)
    assert _persisted(spark) == base and view in _cache_views(spark)
    assert _rows(spark.sql(f"SELECT COUNT(*) AS n FROM {view}")) == [(25,)]
    release()
    assert view not in _cache_views(spark)


def test_register_and_eviction_release_the_cache(spark, tmp_path, monkeypatch):
    """register() over the table's name, and eviction from a session's
    bounded entries, unpersist the cached scans and drop their views."""
    _store(tmp_path, [_frame(0, 20), _frame(1, 20)], star_tree_specs=[SPEC])
    base, views = _persisted(spark), _cache_views(spark)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(tmp_path))
    for q in (PRUNED_Q, STAR_Q):
        hq.sql(q, default_limit=None).collect()
    assert _persisted(spark) == base + 2 and len(_cache_views(spark)) == len(views) + 2
    hq.register("docs", spark.range(3))
    assert _persisted(spark) == base and _cache_views(spark) == views

    session = spark.newSession()
    hq = HurricaneSQL(session)
    hq.register_segment_table("docs", str(tmp_path))
    monkeypatch.setattr(ps, "_SESSION_FRAMES_SIZE", 4)
    projections = ["id", "lang", "text", "props", "id, lang", "id, text"]
    for cols in projections:
        hq.sql(f"SELECT {cols} FROM docs", default_limit=None).collect()
        assert _scan_cache(hq) == "build"
    cached = [e for e in ps._SESSION_FRAMES[session].values() if isinstance(e, ps._Persisted)]
    assert 0 < len(cached) < len(projections)
    assert _persisted(spark) == base + len(cached)
    assert sorted(_cache_views(session)) == sorted(e.view for e in cached)


def test_broker_threads_during_a_rewrite(spark, tmp_path, monkeypatch):
    """4 broker threads send mixed queries while one segment is swapped,
    again and again, for a fresh copy of itself: each swap is a new
    version, so cached entries are rebuilt and replaced under requests in
    flight. Every answer matches the expression scan."""
    store, copies = tmp_path / "store", tmp_path / "copies"
    frames = [_frame(0, 40), _frame(1, 40)]
    options = dict(
        star_tree_specs=[SPEC], text_index_columns=["text"], json_index_columns=["props"]
    )
    ps.write_segment_pandas(frames[0], str(store / "seg_0"), **options)

    def fresh_copy(k: int) -> None:
        target = copies / f"v{k}" / "seg_1"
        ps.write_segment_pandas(frames[1], str(target), **options)
        link = store / "seg_1.tmp"
        os.symlink(target, link)
        os.replace(link, store / "seg_1")

    fresh_copy(0)
    builds = []
    session_view = ps.session_view

    def counting(*args):
        out = session_view(*args)
        builds.append(out[1] == "build")
        return out

    monkeypatch.setattr(ps, "session_view", counting)
    hq = HurricaneSQL(spark)
    hq.register_segment_table("docs", str(store))
    queries = [
        PRUNED_Q,
        STAR_Q,
        "SELECT lang, COUNT(*) AS n FROM docs WHERE TEXT_MATCH(text, 'storm') GROUP BY lang",
        "SELECT COUNT(*) AS n, SUM(id) AS s FROM docs",
    ]
    want = {q: _plain(spark, q) for q in queries}
    server = serve(hq, port=0)
    url = "http://%s:%s" % server.server_address
    stop, answers, errors = threading.Event(), [], []

    def client(i: int) -> None:
        k = i
        while not stop.is_set() or k < i + 2 * len(queries):
            q = queries[k % len(queries)]
            k += 1
            try:
                _, out = _post(url, {"sql": q})
                answers.append((q, out["exceptions"], out["resultTable"]["rows"]))
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(repr(e))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        for k in range(1, 4):
            time.sleep(0.5)
            fresh_copy(k)
        stop.set()
        for t in threads:
            t.join(300)
    finally:
        stop.set()
        server.shutdown()
    assert not errors and not any(t.is_alive() for t in threads)
    for q, exceptions, rows in answers:
        assert exceptions == [] and sorted(map(tuple, rows)) == want[q], q
    assert len(answers) >= 8 * len(queries) and sum(builds) > 2
