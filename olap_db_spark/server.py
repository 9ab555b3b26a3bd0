"""External SQL endpoint — the reference's client/server split over Spark.

The reference serves two wire protocols: HTTP :8123 and native TCP :9000
(/root/reference/docker-compose.yml:13-15; HTTP clients at
/root/reference/drivers/aiochclient_lab.py:8-13, which issue
``GET /?query=SELECT 1`` and read TSV/JSON). Spark Connect / Thrift can't
run in this container (no grpcio / thrift client), so the engine exposes
the SAME HTTP surface the reference's own clients speak, backed by
``OlapEngine.sql``:

- ``GET /ping``                     → ``Ok.\n``   (ClickHouse liveness)
- ``GET|POST /?query=...``          → result rows, TabSeparated (default)
- ``...&default_format=JSONEachRow``→ one JSON object per row
- ``...&max_result_rows=N``         → per-request row cap (ClickHouse's
  setting of the same name; default ``MAX_ROWS``, 100 000)

Results are COLLECTED, bounded by the row cap: every request runs
``df.limit(max_rows + 1).collect()`` before the status line, so analysis
AND runtime errors come back as clean 400s, and the one extra row tells
whether the cap truncated the result. Driver memory per request is
bounded by ``max_rows + 1`` rows, not by the result size. The kept rows
go out as one body with a ``Content-Length``, and the row counts are
ordinary response headers that any HTTP client reads:
``X-Olap-Rows-Limit``, ``X-Olap-Rows-Truncated`` (``1`` when the cap cut
the result) and ``X-Olap-Rows-Sent``. A client that disconnects does not
cancel its running Spark job; the same row cap bounds that job.

Server model: a stdlib ThreadingHTTPServer on an ephemeral port. Spark
query execution is driver-coordinated either way — an out-of-process
client (tested via a subprocess urllib client) gets true remote SQL
access while the cluster does the work. At real scale the same handler
runs next to the driver; concurrent requests become concurrent Spark
jobs. ``get_spark`` sets no ``spark.scheduler.mode``, so they run FIFO.

Binding: loopback only by default. The endpoint executes arbitrary SQL
with no authentication (the reference's ClickHouse at least has
user/password semantics), so a non-loopback bind requires the explicit
``allow_external=True`` opt-in (round-2 ADVICE).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .api import MUTATING_VERBS, OlapEngine, classify_statement

#: row cap per response unless the request's ClickHouse-named
#: ``max_result_rows`` parameter sets another
MAX_ROWS = 100_000

_LOOPBACK_HOSTS = ("127.0.0.1", "localhost", "::1", "")


def _encode_row(cols, row, fmt: str) -> str:
    if fmt == "JSONEachRow":
        return (
            json.dumps(dict(zip(cols, [_plain(v) for v in row])), default=str)
            + "\n"
        )
    return "\t".join("\\N" if v is None else str(_plain(v)) for v in row) + "\n"


def _plain(v):
    """Row cells → JSON/TSV-friendly plain values."""
    if hasattr(v, "asDict"):
        return v.asDict(recursive=True)
    return v


class HttpSqlServer:
    """ClickHouse-HTTP-shaped SQL endpoint over an :class:`OlapEngine`."""

    def __init__(
        self,
        engine: OlapEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        allow_external: bool = False,
        allow_mutations: bool = False,
    ):
        """``allow_mutations`` (ADVICE r9): the engine-routed statements
        that rewrite data or truncate history at an arbitrary quoted path
        (UPSERT / DELETE / OPTIMIZE / VACUUM / RESTORE) answer 403 over
        the wire unless explicitly opted in — same pattern as the
        non-loopback ``allow_external`` gate. Read-only verbs
        (SHOW VERSIONS, READ ... VERSION AS OF) always pass. This gates
        the engine's own destructive verbs only; plain Spark SQL is
        already arbitrary (the endpoint is unauthenticated by design,
        loopback-bound by default) — pair the opt-in with an engine
        ``table_root`` to confine where those verbs may point."""
        if host not in _LOOPBACK_HOSTS and not allow_external:
            raise ValueError(
                f"refusing to bind unauthenticated SQL endpoint to {host!r}; "
                "pass allow_external=True to opt in (loopback is the default)"
            )
        self.engine = engine
        self.allow_mutations = allow_mutations
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive between requests

            def log_message(self, *a):  # noqa: N802 - quiet
                pass

            def _reply(self, code: int, body: bytes, headers=()) -> None:
                """The one writer of every response: status, headers with
                the body's length, then the body."""
                try:
                    self.send_response(code)
                    self.send_header("Content-Type", "text/plain; charset=utf-8")
                    self.send_header("Content-Length", str(len(body)))
                    for key, value in headers:
                        self.send_header(key, value)
                    self.end_headers()
                    self.wfile.write(body)
                except (BrokenPipeError, ConnectionResetError):
                    self.close_connection = True

            def _run(self, query: str, q: dict) -> None:
                if not query:
                    self._reply(400, b"missing query\n")
                    return
                fmt = (q.get("default_format") or ["TabSeparated"])[0]
                try:
                    max_rows = int((q.get("max_result_rows") or [MAX_ROWS])[0])
                except ValueError:
                    max_rows = -1
                if max_rows < 0:
                    self._reply(400, b"max_result_rows must be a non-negative integer\n")
                    return
                verb = classify_statement(query)
                if verb in MUTATING_VERBS and not outer.allow_mutations:
                    self._reply(
                        403,
                        f"{verb} is disabled on this endpoint; start the "
                        "server with allow_mutations=True to enable the "
                        "maintenance/mutation statements\n".encode(),
                    )
                    return
                try:
                    df = outer.engine.sql(query)
                    cols = df.columns
                    # one bounded collect BEFORE the status line: the extra
                    # row flags truncation, and every error is still a 400
                    rows = df.limit(max_rows + 1).collect()
                except Exception as ex:  # noqa: BLE001 - surface to client
                    self._reply(400, f"{type(ex).__name__}: {ex}\n".encode())
                    return
                truncated = len(rows) > max_rows
                del rows[max_rows:]
                body = "".join(_encode_row(cols, row, fmt) for row in rows)
                self._reply(
                    200,
                    body.encode("utf-8"),
                    (
                        ("X-Olap-Rows-Limit", str(max_rows)),
                        ("X-Olap-Rows-Truncated", str(int(truncated))),
                        ("X-Olap-Rows-Sent", str(len(rows))),
                    ),
                )

            def do_GET(self):  # noqa: N802
                u = urlparse(self.path)
                if u.path == "/ping":
                    self._reply(200, b"Ok.\n")
                    return
                q = parse_qs(u.query)
                self._run((q.get("query") or [""])[0], q)

            def do_POST(self):  # noqa: N802
                q = parse_qs(urlparse(self.path).query)
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    n = -1
                if n < 0:
                    # the body's extent is unknown: answer, then drop the
                    # connection rather than parse the body as a request
                    self.close_connection = True
                    self._reply(400, b"Content-Length must be a non-negative integer\n")
                    return
                body = self.rfile.read(n).decode("utf-8") if n else ""
                self._run((q.get("query") or [body])[0] or body, q)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="olap-http-sql", daemon=True
        )

    def start(self) -> "HttpSqlServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)

    def __enter__(self) -> "HttpSqlServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
