"""Broker HTTP endpoint: POST /query/sql round-trips through a live
ThreadingHTTPServer (the reference's main entry point, SURVEY.md §3.1)."""

from __future__ import annotations

import json
import threading
import urllib.request

import numpy as np
import pandas as pd
import pytest

from hurricanedb_spark.sources import pinot_segment as ps
from hurricanedb_spark.sql import dialect
from hurricanedb_spark.sql.dialect import HurricaneSQL
from hurricanedb_spark.sql.server import serve


@pytest.fixture(scope="module")
def endpoint(spark, sf_dir):
    hdb = HurricaneSQL(spark, sf_dir)
    server = serve(hdb, port=0)  # ephemeral port
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _post(url, body):
    req = urllib.request.Request(
        url + "/query/sql",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_query_roundtrip(endpoint):
    status, out = _post(
        endpoint,
        {"sql": "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"},
    )
    assert status == 200
    rt = out["resultTable"]
    assert rt["dataSchema"]["columnNames"] == ["l_returnflag", "n"]
    assert rt["dataSchema"]["columnDataTypes"] == ["STRING", "LONG"]
    assert out["numRowsResultSet"] == 3
    assert sum(r[1] for r in rt["rows"]) == 6000
    assert out["exceptions"] == []


def test_response_is_not_held_back_by_nagle(endpoint):
    """The broker writes headers and body separately; with Nagle on, the
    body waited for the client's delayed ACK (~40 ms over loopback on a
    kept-alive connection, as a load client holds one). The median
    HTTP wall time beyond the broker's own timeUsedMs stays small."""
    import http.client
    import statistics
    import time

    host, port = endpoint.rsplit("/", 1)[1].split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=60)
    body = json.dumps({"sql": "SELECT 1 AS x"})
    gaps = []
    try:
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request("POST", "/query/sql", body, {"Content-Type": "application/json"})
            out = json.loads(conn.getresponse().read())
            wall_ms = (time.perf_counter() - t0) * 1e3
            assert out["exceptions"] == []
            gaps.append(wall_ms - out["timeUsedMs"])
    finally:
        conn.close()
    assert statistics.median(gaps) < 20, gaps


def test_pinot_dialect_over_http(endpoint):
    status, out = _post(
        endpoint, {"sql": "SELECT minmaxrange(l_quantity) AS r FROM lineitem"}
    )
    assert status == 200
    assert out["resultTable"]["rows"][0][0] > 0


def test_default_limit_over_http(endpoint):
    _, out = _post(endpoint, {"sql": "SELECT l_orderkey FROM lineitem"})
    assert out["numRowsResultSet"] == 10  # broker default LIMIT 10


def test_date_cells_over_http(spark, endpoint):
    q = (
        "SELECT CAST(l_shipdate AS DATE) AS ship_date, count(*) AS n "
        "FROM lineitem GROUP BY 1 ORDER BY 1 LIMIT 3"
    )
    status, out = _post(endpoint, {"sql": q})
    assert status == 200 and out["exceptions"] == []
    rt = out["resultTable"]
    assert rt["dataSchema"]["columnDataTypes"] == ["TIMESTAMP", "LONG"]
    want = [[r["ship_date"].isoformat(), r["n"]] for r in spark.sql(q).collect()]
    assert rt["rows"] == want and len(want) == 3
    assert all(len(d) == 10 and d[4] == d[7] == "-" for d, _ in rt["rows"])


def test_explain_access_path_survives_concurrent_request(
    spark, tmp_path, monkeypatch
):
    """Request A's EXPLAIN is held after its passes ran; request B, a
    plain query on the same HurricaneSQL, completes meanwhile. A's plan
    must still name the access path A took, not what B did."""
    words = ["spark engine", "quiet day"]
    pdf = pd.DataFrame(
        {
            "id": np.arange(40, dtype=np.int64),
            "body": [f"{words[i % 2]} {i}" for i in range(40)],
        }
    )
    ps.write_segment_pandas(pdf, str(tmp_path / "seg_0"), text_index_columns=["body"])
    hdb = HurricaneSQL(spark)
    hdb.register_segment_table("race_docs", str(tmp_path))
    entered, release = threading.Event(), threading.Event()
    real_plan = dialect.explain_implementation_plan

    def held_plan(df):
        entered.set()
        release.wait(120)
        return real_plan(df)

    monkeypatch.setattr(dialect, "explain_implementation_plan", held_plan)
    server = serve(hdb, port=0)
    url = "http://%s:%s" % server.server_address
    got: dict = {}
    a = threading.Thread(
        target=lambda: got.update(
            a=_post(
                url,
                {
                    "sql": "EXPLAIN IMPLEMENTATION PLAN FOR SELECT id "
                    "FROM race_docs WHERE TEXT_MATCH(body, 'spark')"
                },
            )[1]
        )
    )
    try:
        a.start()
        assert entered.wait(120)
        _, b = _post(url, {"sql": "SELECT count(*) AS n FROM race_docs"})
        assert b["exceptions"] == [] and b["resultTable"]["rows"] == [[40]]
    finally:
        release.set()
        a.join(120)
        server.shutdown()
    assert not a.is_alive()
    assert got["a"]["exceptions"] == []
    plan = got["a"]["resultTable"]["rows"][0][0]
    assert plan.splitlines()[0] == (
        "accessPath: TEXT_INDEX (posting algebra + residual)"
    )


def test_error_in_band(endpoint):
    status, out = _post(endpoint, {"sql": "SELECT * FROM no_such_table"})
    assert status == 200  # errors are in-band like the reference broker
    assert out["resultTable"] is None
    assert out["exceptions"] and "no_such_table" in out["exceptions"][0]["message"].lower()


def test_bad_request(endpoint):
    import urllib.error

    req = urllib.request.Request(
        endpoint + "/query/sql", data=b"not json", headers={}
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            status = resp.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400


def _post_stream(url, body):
    """POST to the streaming endpoint, return the NDJSON lines as the
    client observes them arriving (urllib de-chunks; each line is one
    result block)."""
    req = urllib.request.Request(
        url + "/query/sql/stream",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    lines = []
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200
        for raw in resp:
            if raw.strip():
                lines.append(json.loads(raw))
    return lines


def test_streaming_endpoint_multiple_chunks(endpoint):
    """Entry point 3 (GrpcBrokerRequestHandler semantics): results arrive
    as a schema block, >=2 bounded row blocks, and a trailer — the server
    never materializes the full result."""
    lines = _post_stream(
        endpoint,
        {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
         "chunkSize": 2},
    )
    head, *mid, trailer = lines
    assert head["dataSchema"]["columnNames"] == ["r_regionkey", "r_name"]
    row_blocks = [b for b in mid if "rows" in b]
    assert len(row_blocks) >= 2  # 5 regions / chunkSize 2 -> 3 blocks
    assert all(len(b["rows"]) <= 2 for b in row_blocks)
    rows = [r for b in row_blocks for r in b["rows"]]
    assert len(rows) == 5 and trailer["numRowsResultSet"] == 5
    assert trailer["exceptions"] == []


def test_streaming_endpoint_error_in_band(endpoint):
    lines = _post_stream(endpoint, {"sql": "SELECT * FROM no_such_table"})
    assert lines[-1]["exceptions"]
    assert lines[-1].get("numRowsResultSet", 0) == 0


def test_batch_endpoint_still_works_after_stream(endpoint):
    status, out = _post(endpoint, {"sql": "SELECT count(*) AS n FROM region"})
    assert status == 200 and out["resultTable"]["rows"][0][0] == 5


def test_streaming_endpoint_malformed_chunksize(endpoint):
    """A non-numeric chunkSize must not drop the connection before any
    status line; the server falls back to the default chunk size and the
    stream completes normally."""
    lines = _post_stream(
        endpoint,
        {"sql": "SELECT r_regionkey FROM region ORDER BY r_regionkey",
         "chunkSize": "abc"},
    )
    rows = [r for b in lines if "rows" in b for r in b["rows"]]
    assert len(rows) == 5 and lines[-1]["numRowsResultSet"] == 5


def test_dbapi_wrapper_end_to_end(endpoint):
    """PEP 249 client over the chunked endpoint: description, streaming
    fetchmany (bounded blocks), fetchall, qmark parameters, trailer
    rowcount, and DatabaseError on bad SQL."""
    from hurricanedb_spark.sql import dbapi

    with dbapi.connect(endpoint) as conn:
        cur = conn.cursor()
        cur.arraysize = 2
        cur.execute(
            "SELECT r_regionkey, upper(r_name) AS rn FROM region "
            "ORDER BY r_regionkey"
        )
        assert [d[0] for d in cur.description] == ["r_regionkey", "rn"]
        first_two = cur.fetchmany(2)
        assert [r[0] for r in first_two] == [0, 1]
        rest = cur.fetchall()
        assert len(rest) == 3 and cur.fetchone() is None
        assert cur.rowcount == 5

        cur.execute(
            "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = ? "
            "AND l_quantity > ?",
            ("A", 0),
        )
        (n,) = cur.fetchone()
        assert n > 0

        import pytest

        with pytest.raises(dbapi.DatabaseError):
            cur.execute("SELECT * FROM no_such_table")
            cur.fetchall()
        cur.close()


def test_dbapi_type_codes_and_executemany(endpoint):
    """Round-6 DB-API parity polish: description type codes compare
    equal to module type objects (PEP 249 DBAPITypeObject pattern),
    executemany runs per parameter set, and a >1-chunk result streams
    through bounded fetch calls."""
    from hurricanedb_spark.sql import dbapi

    with dbapi.connect(endpoint) as conn:
        cur = conn.cursor()
        cur.execute(
            "SELECT r_name, r_regionkey, CAST(r_regionkey AS DOUBLE) AS d "
            "FROM region"
        )
        codes = [d[1] for d in cur.description]
        assert codes[0] == dbapi.STRING
        assert codes[1] == dbapi.NUMBER and codes[2] == dbapi.NUMBER
        assert codes[0] != dbapi.NUMBER
        cur.fetchall()

        # executemany: last result set is live on the cursor
        cur.executemany(
            "SELECT count(*) AS n FROM region WHERE r_regionkey = ?",
            [(0,), (1,), (2,)],
        )
        assert cur.fetchone() == (1,)

        # streaming over >1 chunk: arraysize 2 over 25 nations means the
        # client holds at most one 2-row block between fetch calls
        cur.arraysize = 2
        # explicit LIMIT: the endpoint applies Pinot's default LIMIT 10
        cur.execute(
            "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 25"
        )
        seen = []
        while True:
            block = cur.fetchmany()
            if not block:
                break
            assert len(cur._buffer) <= 2
            seen.extend(r[0] for r in block)
        assert seen == list(range(25)) and cur.rowcount == 25
        cur.close()
