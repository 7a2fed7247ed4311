"""Broker HTTP surface: POST /query/sql — the reference's main entry point
(BaseBrokerRequestHandler.handleRequest, SURVEY.md §3.1) with the
BrokerResponseNative response shape:

  request:  {"sql": "...", "queryOptions": "enableNullHandling=true"}
  response: {"resultTable": {"dataSchema": {"columnNames": [...],
                                            "columnDataTypes": [...]},
                             "rows": [[...], ...]},
             "numRowsResultSet": N, "timeUsedMs": T, "exceptions": []}

stdlib http.server only (no web framework in the container); one Spark
session serves all requests — concurrency comes from Spark's scheduler,
matching the broker model (a thin stateless front-end over the engine).
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import types as T

from hurricanedb_spark.sql.dialect import HurricaneSQL

_TYPE_NAMES = {
    T.IntegerType: "INT",
    T.LongType: "LONG",
    T.FloatType: "FLOAT",
    T.DoubleType: "DOUBLE",
    T.StringType: "STRING",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP",
    T.DateType: "TIMESTAMP",
    T.BinaryType: "BYTES",
}


def _type_name(dt: T.DataType) -> str:
    for klass, name in _TYPE_NAMES.items():
        if isinstance(dt, klass):
            return name
    if isinstance(dt, T.DecimalType):
        return "BIG_DECIMAL"
    if isinstance(dt, T.ArrayType):
        return _type_name(dt.elementType) + "_ARRAY"
    return "JSON"


def _json_cell(v):
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if isinstance(v, list):
        return [_json_cell(x) for x in v]
    return v


def execute_sql(hdb: HurricaneSQL, sql: str, max_rows: int = 100_000) -> dict:
    """Run one query and build the BrokerResponseNative-shaped payload."""
    t0 = time.time()
    try:
        df = hdb.sql(sql)
        rows = df.limit(max_rows).collect()
        schema = df.schema
        return {
            "resultTable": {
                "dataSchema": {
                    "columnNames": [f.name for f in schema.fields],
                    "columnDataTypes": [_type_name(f.dataType) for f in schema.fields],
                },
                "rows": [[_json_cell(v) for v in row] for row in rows],
            },
            "numRowsResultSet": len(rows),
            "timeUsedMs": int((time.time() - t0) * 1000),
            "exceptions": [],
        }
    except Exception as e:  # noqa: BLE001 — broker returns errors in-band
        return {
            "resultTable": None,
            "numRowsResultSet": 0,
            "timeUsedMs": int((time.time() - t0) * 1000),
            "exceptions": [{"errorCode": 200, "message": str(e).split("\n")[0]}],
        }


class _Handler(BaseHTTPRequestHandler):
    hdb: HurricaneSQL = None  # injected by serve()
    protocol_version = "HTTP/1.1"  # chunked transfer needs 1.1
    # TCP_NODELAY: the headers and the body go out as two writes, and
    # with Nagle on the body waited for the client's delayed ACK of the
    # headers, ~40 ms on every response over loopback.
    disable_nagle_algorithm = True

    def do_POST(self):  # noqa: N802 (http.server API)
        if self.path not in ("/query/sql", "/query", "/query/sql/stream"):
            self.send_error(404)
            return
        length = int(self.headers.get("Content-Length", 0))
        try:
            body = json.loads(self.rfile.read(length) or b"{}")
            sql = body["sql"]
        except (json.JSONDecodeError, KeyError):
            payload = b'{"error": "body must be JSON with a sql field"}'
            self.send_response(400)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            return
        if self.path == "/query/sql/stream":
            self._stream_sql(sql, body)
            return
        payload = json.dumps(execute_sql(self.hdb, sql)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _chunk(self, data: bytes) -> None:
        self.wfile.write(f"{len(data):X}\r\n".encode() + data + b"\r\n")

    def _stream_sql(self, sql: str, body: dict) -> None:
        """Streaming results endpoint — the reference's entry point 3
        (GrpcBrokerRequestHandler: the broker streams result blocks to the
        client instead of materializing one response). Same semantics over
        chunked HTTP/NDJSON: one schema line, then row-batch lines of at
        most `chunkSize` rows (driven by toLocalIterator — only one batch
        is ever resident on the driver), then a trailer line with the row
        count. Errors mid-stream arrive in-band as an `exceptions` line,
        matching the batch endpoint's contract."""
        try:
            chunk_rows = max(1, int(body.get("chunkSize", 10_000)))
        except (ValueError, TypeError):
            chunk_rows = 10_000  # malformed chunkSize: default, not a dropped conn
        t0 = time.time()
        try:
            df = self.hdb.sql(sql)
            schema = df.schema
        except Exception as e:  # noqa: BLE001 — in-band, like execute_sql
            self._stream_error(e, t0)
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/x-ndjson")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        head = {
            "dataSchema": {
                "columnNames": [f.name for f in schema.fields],
                "columnDataTypes": [_type_name(f.dataType) for f in schema.fields],
            }
        }
        self._chunk(json.dumps(head).encode() + b"\n")
        n = 0
        buf: list = []
        try:
            for row in df.toLocalIterator():
                buf.append([_json_cell(v) for v in row])
                if len(buf) >= chunk_rows:
                    n += len(buf)
                    self._chunk(json.dumps({"rows": buf}).encode() + b"\n")
                    buf = []
            if buf:
                n += len(buf)
                self._chunk(json.dumps({"rows": buf}).encode() + b"\n")
            trailer = {
                "numRowsResultSet": n,
                "timeUsedMs": int((time.time() - t0) * 1000),
                "exceptions": [],
            }
        except Exception as e:  # noqa: BLE001
            trailer = {
                "numRowsResultSet": n,
                "timeUsedMs": int((time.time() - t0) * 1000),
                "exceptions": [{"errorCode": 200,
                                "message": str(e).split("\n")[0]}],
            }
        self._chunk(json.dumps(trailer).encode() + b"\n")
        self.wfile.write(b"0\r\n\r\n")
        self.close_connection = True

    def _stream_error(self, e: Exception, t0: float) -> None:
        payload = json.dumps(
            {
                "resultTable": None,
                "numRowsResultSet": 0,
                "timeUsedMs": int((time.time() - t0) * 1000),
                "exceptions": [{"errorCode": 200,
                                "message": str(e).split("\n")[0]}],
            }
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # silence request logging
        pass


def serve(hdb: HurricaneSQL, host: str = "127.0.0.1", port: int = 8099):
    """Start the broker endpoint in a daemon thread; returns the server
    (call .shutdown() to stop)."""
    handler = type("BoundHandler", (_Handler,), {"hdb": hdb})
    server = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
