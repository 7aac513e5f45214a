"""HTTP server + REPL — thin parity layer over GraphSession.

Reference surface: a single ``POST /query`` route
(brahmand/src/server/mod.rs:45-48) taking ``{"query": ..., "format":
...}`` with output formats JSONEachRow / Pretty / PrettyCompact / CSV /
CSVWithNames (server/models.rs:20-27), responses streamed line-by-line
(server/handlers.rs:195-219) with ``Elapsed: N sec`` appended to the
pretty/CSV formats (handlers.rs:182-185). The client is a line REPL
(brahmand-client/src/main.rs:13-91).

Implemented on the stdlib http.server (no web-framework dependency).
A statement's rows are collected to the driver in one Spark action
(``collect``: the job count does not grow with the number of result
partitions) and the response is rendered in memory before it is sent,
so a result is bounded by ``spark.driver.maxResultSize`` and driver
memory.
``Elapsed`` covers compilation, execution and the pull.
"""

from __future__ import annotations

import csv
import io
import json
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Iterator

from .errors import BrahmandError
from .session import GraphSession

FORMATS = {"JSONEachRow", "Pretty", "PrettyCompact", "CSV", "CSVWithNames"}
# Request bodies above this many bytes get 413 without being read.
MAX_BODY_BYTES = 1 << 20


def _json_default(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _jsonable(v):
    """Struct Rows are tuple subclasses — json.dumps would render
    them as field-nameless arrays, so map results (r7: map
    projections / properties()) must convert to dicts recursively
    BEFORE serialization."""
    if hasattr(v, "asDict"):  # pyspark Row
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def format_rows(columns: list[str], rows: Iterator, fmt: str,
                elapsed: float) -> Iterator[str]:
    """Render rows in one of the reference's output formats."""
    if fmt == "JSONEachRow":
        for row in rows:
            yield json.dumps(
                {c: _jsonable(v) for c, v in zip(columns, row)},
                default=_json_default,
            ) + "\n"
        return
    if fmt in ("CSV", "CSVWithNames"):
        buf = io.StringIO()
        writer = csv.writer(buf)
        if fmt == "CSVWithNames":
            writer.writerow(columns)
        for row in rows:
            writer.writerow(row)
        yield buf.getvalue()
        yield f"\nElapsed: {elapsed:.3f} sec\n"
        return
    # Pretty / PrettyCompact: fixed-width table
    materialized = [tuple(str(v) for v in row) for row in rows]
    widths = [len(c) for c in columns]
    for row in materialized:
        for i, v in enumerate(row):
            widths[i] = max(widths[i], len(v))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+\n"
    if fmt == "Pretty":
        yield sep
    yield "|" + "|".join(
        f" {c.ljust(w)} " for c, w in zip(columns, widths)
    ) + "|\n"
    yield sep
    for row in materialized:
        yield "|" + "|".join(
            f" {v.ljust(w)} " for v, w in zip(row, widths)
        ) + "|\n"
    yield sep
    yield f"Elapsed: {elapsed:.3f} sec\n"


def run_query(session: GraphSession, query: str, params, fmt: str) -> str:
    """Execute one statement, pull its rows and render them in ``fmt``."""
    t0 = time.time()
    df = session.execute(query, params=params)
    columns = df.columns
    rows = [[row[c] for c in columns] for row in df.collect()]
    return "".join(format_rows(columns, rows, fmt, time.time() - t0))


class _Rejected(Exception):
    """A request refused before it is run, with its HTTP status."""

    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _read_request(headers, rfile) -> tuple[str, object, str]:
    """``(query, params, format)`` of a POST /query request, validated
    before anything runs. The body is read only once its declared
    length is known to be a non-negative integer within
    ``MAX_BODY_BYTES``."""
    try:
        length = int(headers.get("Content-Length", "0"))
    except ValueError:
        raise _Rejected(400, "Content-Length must be an integer")
    if length < 0:
        raise _Rejected(400, "Content-Length must not be negative")
    if length > MAX_BODY_BYTES:
        raise _Rejected(413, f"request body over {MAX_BODY_BYTES} bytes")
    try:
        body = json.loads(rfile.read(length) or b"{}")
    except ValueError:
        raise _Rejected(400, "request body is not valid JSON")
    if not isinstance(body, dict):
        raise _Rejected(400, "request body must be a JSON object")
    query = body.get("query", "")
    params = body.get("params")
    fmt = body.get("format", "JSONEachRow")
    if not isinstance(query, str):
        raise _Rejected(400, "'query' must be a string")
    if params is not None and not isinstance(params, dict):
        raise _Rejected(400, "'params' must be an object or null")
    if not isinstance(fmt, str) or fmt not in FORMATS:
        raise _Rejected(400, f"unknown format '{fmt}'")
    return query, params, fmt


def make_handler(session: GraphSession):
    class QueryHandler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def _reply(self, status: int, content_type: str, payload: bytes):
            self.send_response(status)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _reply_error(self, status: int, message: str):
            self._reply(status, "application/json",
                        json.dumps({"error": message}).encode())

        def do_POST(self):
            if self.path != "/query":
                self.send_error(404)
                return
            try:
                query, params, fmt = _read_request(self.headers, self.rfile)
            except _Rejected as e:
                self._reply_error(e.status, str(e))
                return
            try:
                payload = run_query(session, query, params, fmt).encode()
                self._reply(200, "text/plain; charset=utf-8", payload)
            except BrahmandError as e:
                self._reply_error(400, str(e))
            except Exception as e:  # planner/execution errors -> 500
                self._reply_error(500, str(e)[:2000])

    return QueryHandler


def serve(session: GraphSession, host: str = "127.0.0.1",
          port: int = 8080) -> ThreadingHTTPServer:
    """Start the query server (non-blocking; call .serve_forever() or use
    as a context)."""
    return ThreadingHTTPServer((host, port), make_handler(session))


def repl(session: GraphSession) -> None:
    """Line REPL printing PrettyCompact (client parity,
    brahmand-client/src/main.rs:13-91)."""
    while True:
        try:
            line = input("brahmand> ").strip()
        except (EOFError, KeyboardInterrupt):
            break
        if not line or line in {"exit", "quit", r"\q"}:
            break
        try:
            print(run_query(session, line, None, "PrettyCompact"), end="")
        except Exception as e:
            print(f"error: {e}")
