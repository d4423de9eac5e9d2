"""Supervisor HTTP control plane — the reference's REST surface on stdlib.

Mirrors the route table of supervisor.go:78-95 and the Slack slash-command
endpoint (supervisor.go:97-273, PostSlack :111-273) over
``http.server.ThreadingHTTPServer`` — no web framework, so it runs in this
container and on any executorless driver node:

    GET    /                          hello            (:406)
    GET    /ping                      liveness         (:396)
    POST   /filter?name=&regex=       create filter    (:416)
    GET    /filter                    list filters     (:673)
    DELETE /filter/{id}               delete filter    (:795)
    GET    /filter/{id}/result?result_offset=N         (:450)
    GET    /filter/{id}/stats                          (:515)
    POST   /filter/{id}/outlier?timestamp=&score=      (:546)
    DELETE /admin/truncate/outliers   admin            (:382)
    DELETE /admin/truncate/stats      admin            (:368)
    PUT    /admin/config?key=&value=  admin            (:353)
    POST   /bigquery/query            SQL in body, TSV out (NOT JSON, :276)
    POST   /slack                     form token/text → chat answer (:111)

Response envelope follows the reference's jresp (RobinUS2/golang-jresp):
``{"status": true, ...}`` on success, ``{"status": false, "errors": [..]}``
on failure.  Auth is HTTP Basic with the reference's exact failure modes —
400 ``bad syntax a``/``bad syntax b``, 401 ``authorization failed``
(supervisor.go:822-843); admin routes additionally require the
``admin_password`` query parameter (adminAuth, :812-819).

Divergences (documented): Go's json marshal of the filter struct uses the
Go field names — here the listing uses lower-case keys; the BigQuery
passthrough executes on Spark via ``engine.search`` (legacy-dialect shim
included) instead of dialing BigQuery.

State model: the streaming query's sinks are the one store.
``StreamingEngine.process_batch`` writes the results and stats tables (the
reference's topology PUTs into supervisor memory instead, :611, :684;
those ingest routes have no counterpart here) and the result, stats and
query routes read them, so a line shows over HTTP once its micro-batch
commits.  The result cursor is ``row_id + 1``; a page holds at most
``stream.max_msgs_per_filter`` lines (supervisor.go:52) and the rest come
back on the next poll.  The only state held here is the newest
``MAX_OUTLIERS`` outlier records.
"""

from __future__ import annotations

import base64
import hmac
import json
import sys
import threading
from collections import OrderedDict, deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from cloudpelican_lsd_spark.engine import CloudPelicanEngine, slack_command
from cloudpelican_lsd_spark.operators.tail import cursor_read
from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine

#: outlier records kept — the oldest roll off (the reference's 10k
#: in-memory cap, supervisor.go:52)
MAX_OUTLIERS = 10000


class _BodyError(Exception):
    """Malformed request body (bad Content-Length, oversized); answered
    with the jresp error envelope, never a dropped connection."""


class SupervisorHTTP:
    """The supervisor server: routes + auth around a CloudPelicanEngine
    and the StreamingEngine whose tables answer tail, stats and search."""

    def __init__(
        self,
        engine: CloudPelicanEngine,
        stream: StreamingEngine,
        username: str = "cloudpelican",
        password: str = "cloudpelican",
        admin_password: str | None = None,
        slack_token: str | None = None,
        max_body_bytes: int = 32 * 1024 * 1024,
    ) -> None:
        if stream.catalog is not engine.catalog:
            # a filter created with POST /filter must be one the stream
            # matches, or its result route stays empty forever
            raise ValueError("SupervisorHTTP: stream.catalog must be engine.catalog")
        self.engine = engine
        self.stream = stream
        self.username = username
        self.password = password
        self.admin_password = admin_password
        self.slack_token = slack_token
        self.max_body_bytes = max_body_bytes
        self.lock = threading.Lock()
        self.outliers: deque = deque(maxlen=MAX_OUTLIERS)
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ----------------------------------------------------------

    def start(self, port: int = 0, host: str = "127.0.0.1") -> str:
        """Serve on a daemon thread; returns the base URL (port 0 = any).

        Binding beyond loopback requires non-default credentials — the
        reference ships cloudpelican/cloudpelican defaults, but exposing
        those on a routable interface is an open door."""
        if host not in ("127.0.0.1", "localhost") and (
            self.username, self.password
        ) == ("cloudpelican", "cloudpelican"):
            raise ValueError(
                "refusing to bind non-loopback with default credentials; "
                "pass explicit username/password"
            )
        api = self

        class Handler(_SupervisorHandler):
            sup = api

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        host, p = self._server.server_address[:2]
        return f"http://{host}:{p}"

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server.server_close()

    # -- shared helpers -----------------------------------------------------

    def find_filter(self, filter_id: str):
        for f in self.engine.catalog.list(include_temp=True):
            if f.id == filter_id:
                return f
        return None


class _SupervisorHandler(BaseHTTPRequestHandler):
    sup: SupervisorHTTP  # injected subclass attribute

    # -- plumbing -----------------------------------------------------------

    def log_message(self, fmt, *args):  # quiet test output
        pass

    def _send(self, body: str, code: int = 200, ctype: str = "application/json"):
        data = body.encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _jresp_ok(self, **kv):
        self._send(json.dumps({"status": True, **kv}))

    def _jresp_err(self, msg: str):
        # jresp.Error: HTTP 200 with status=false, like the reference
        self._send(json.dumps({"status": False, "errors": [msg]}))

    def _basic_auth(self) -> bool:
        """supervisor.go:822-843 — exact failure modes."""
        auth = self.headers.get("Authorization")
        if not auth:
            self._send("bad syntax a", 400, "text/plain")
            return False
        parts = auth.split(" ", 1)
        if len(parts) != 2 or parts[0] != "Basic":
            self._send("bad syntax b", 400, "text/plain")
            return False
        try:
            user, _, pwd = base64.b64decode(parts[1]).decode().partition(":")
        except Exception:
            user, pwd = "", ""
        # constant-time compare (round-2 review: `!=` is a timing side
        # channel on a network-facing supervisor); single non-short-circuit
        # AND so user and password checks always both run
        ok_user = hmac.compare_digest(
            user.encode(), self.sup.username.encode()
        )
        ok_pwd = hmac.compare_digest(
            pwd.encode(), self.sup.password.encode()
        )
        if not (ok_user & ok_pwd):
            self._send("authorization failed", 401, "text/plain")
            return False
        return True

    def _admin_auth(self, q) -> bool:
        """supervisor.go:812-819 — no password configured = open.
        Constant-time compare for the same reason _basic_auth uses it."""
        if not self.sup.admin_password:
            return True
        return hmac.compare_digest(
            q.get("admin_password", [""])[0].encode(),
            self.sup.admin_password.encode(),
        )

    def _body(self) -> bytes:
        """Read the request body, at most ``max_body_bytes`` of it.

        A malformed Content-Length or an oversized body returns the
        reference's jresp error envelope instead of aborting the
        connection."""
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError as ex:
            raise _BodyError(f"Invalid Content-Length: {ex}") from ex
        if n < 0:
            # read(-1) would block until client EOF, pinning the handler
            # thread — a negative length is always malformed
            raise _BodyError("Invalid Content-Length: negative")
        raw = self.rfile.read(min(n, self.sup.max_body_bytes + 1))
        if len(raw) > self.sup.max_body_bytes:
            raise _BodyError("Request body too large")
        return raw

    # -- routing ------------------------------------------------------------

    def _route(self, method: str):
        url = urlparse(self.path)
        q = parse_qs(url.query)
        parts = [p for p in url.path.split("/") if p]

        # Slack endpoint: its own auth model (form token), text answer
        if method == "POST" and parts == ["slack"]:
            return self._post_slack()

        if not self._basic_auth():
            return None

        if method == "GET" and not parts:
            return self._jresp_ok(hello="This is the CloudPelican supervisor")
        if method == "GET" and parts == ["ping"]:
            return self._jresp_ok(pong=True)
        if parts[:1] == ["filter"] and len(parts) == 1:
            if method == "POST":
                return self._post_filter(q)
            if method == "GET":
                return self._get_filters()
        if parts[:1] == ["filter"] and len(parts) == 2 and method == "DELETE":
            return self._delete_filter(parts[1])
        if parts[:1] == ["filter"] and len(parts) == 3:
            fid, leaf = parts[1], parts[2]
            if leaf == "result" and method == "GET":
                return self._get_results(fid, q)
            if leaf == "stats" and method == "GET":
                return self._get_stats(fid)
            if leaf == "outlier" and method == "POST":
                return self._post_outlier(fid, q)
        if parts[:2] == ["admin", "truncate"] and method == "DELETE":
            if not self._admin_auth(q):
                return self._send("authorization failed", 401, "text/plain")
            if parts[2:] == ["outliers"]:
                with self.sup.lock:
                    n = len(self.sup.outliers)
                    self.sup.outliers.clear()
                return self._jresp_ok(truncated=n)
            if parts[2:] == ["stats"]:
                # drop every bucket; the rewrite refuses under a live stream
                n = self.sup.stream.stats().count()
                try:
                    self.sup.stream.expire_stats(sys.maxsize)
                except RuntimeError as ex:
                    return self._jresp_err(str(ex))
                return self._jresp_ok(truncated=n)
        if method == "PUT" and parts == ["admin", "config"]:
            if not self._admin_auth(q):
                return self._send("authorization failed", 401, "text/plain")
            key = q.get("key", [""])[0].strip()
            value = q.get("value", [""])[0]
            if not key:
                return self._jresp_err("Please provide a key")
            cfg = self.sup.engine.execute(f"configure supervisor {key}={value}")
            return self._jresp_ok(config=cfg)
        if method == "POST" and parts == ["bigquery", "query"]:
            return self._post_query()
        return self._send("not found", 404, "text/plain")

    # -- handlers -----------------------------------------------------------

    def _post_filter(self, q):
        regex = q.get("regex", [""])[0].strip()
        if not regex:
            return self._jresp_err("Please provide a regex")
        name = q.get("name", [""])[0].strip()
        if not name:
            return self._jresp_err("Please provide a name")
        try:
            f = self.sup.engine.catalog.create(
                name, regex, client_host=self.client_address[0]
            )
        except Exception as ex:
            return self._jresp_err(f"Failed to create filter: {ex}")
        return self._jresp_ok(filter_id=f.id)

    def _get_filters(self):
        filters = OrderedDict(
            (
                f.id,
                {"id": f.id, "name": f.name, "regex": f.regex},
            )
            for f in self.sup.engine.catalog.list()
        )
        return self._jresp_ok(filters=filters)

    def _delete_filter(self, fid: str):
        f = self.sup.find_filter(fid)
        if f is None:
            return self._jresp_ok(deleted=False)
        self.sup.engine.catalog.drop(f.name)
        return self._jresp_ok(deleted=True)

    def _get_results(self, fid: str, q):
        if self.sup.find_filter(fid) is None:
            return self._jresp_err(f"Filter {fid} not found")
        off_str = q.get("result_offset", [""])[0]
        if not off_str:
            return self._jresp_err("Please provide a result offset")
        try:
            offset = int(off_str)
        except ValueError as ex:
            return self._jresp_err(f"Please provide a valid result offset: {ex}")
        # the cursor is row_id + 1: row_id starts at 0, and offset 0 must
        # mean "from the start" as in the reference
        stream = self.sup.stream
        page = cursor_read(stream.results(fid), offset - 1,
                           stream.max_msgs_per_filter, id_col="row_id")
        rows = page.select("row_id", "_raw").collect()
        # nothing newer -> result_offset 0, EXACTLY like the reference
        # (supervisor.go:492-508); a polling client keeps its own
        # high-water mark, as the reference CLI does
        cursor = rows[-1].row_id + 1 if rows else 0
        return self._jresp_ok(result_offset=cursor, results=[r["_raw"] for r in rows])

    def _get_stats(self, fid: str):
        if self.sup.find_filter(fid) is None:
            return self._jresp_err(f"Filter {fid} not found")
        m: dict[str, dict[str, int]] = {}
        for r in sorted(self.sup.stream.stats(fid).collect()):
            m.setdefault(str(r.metric), {})[str(r.bucket)] = r.cnt
        return self._jresp_ok(stats=m)

    def _post_outlier(self, fid: str, q):
        if self.sup.find_filter(fid) is None:
            return self._jresp_err(f"Filter {fid} not found")
        ts = q.get("timestamp", [""])[0].strip()
        if not ts:
            return self._jresp_err("Please provide a timestamp")
        try:
            ts_i = int(ts)
        except ValueError as ex:
            return self._jresp_err(f"Please provide a valid timestamp: {ex}")
        score = q.get("score", [""])[0].strip()
        if not score:
            return self._jresp_err("Please provide a score")
        try:
            score_f = float(score)
        except ValueError as ex:
            return self._jresp_err(f"Please provide a valid score: {ex}")
        with self.sup.lock:
            self.sup.outliers.append(
                {"filter_id": fid, "timestamp": ts_i, "score": score_f}
            )
        return self._jresp_ok(stored=True)

    def _post_query(self):
        """BigQuery passthrough: SQL in the body, TSV out (NOT JSON,
        supervisor.go:276) — executes on Spark via engine.search."""
        from cloudpelican_lsd_spark.engine import df_to_tsv

        # errors="replace": a stray invalid byte must produce the error
        # envelope (or a parse error), never an uncaught UnicodeDecodeError
        # dropping the connection
        sql = self._body().decode("utf-8", errors="replace").strip()
        if not sql:
            return self._send("empty query", 400, "text/plain")
        try:
            # the stream's results resolve filter names and the
            # reference's per-filter day-table names
            found = self.sup.engine.search(sql, results=self.sup.stream.results())
            body = df_to_tsv(found, max_rows=10000)
        except Exception as ex:
            return self._send(f"error: {ex}", 400, "text/plain")
        return self._send(body, 200, "text/tab-separated-values")

    def _post_slack(self):
        body = self._body().decode("utf-8", errors="replace")
        form = {k: v[0] for k, v in parse_qs(body).items()}
        # secure default: with no token CONFIGURED the endpoint is closed —
        # the reference reads slack_token via GetNotEmpty (config required);
        # an unset token must not mean "accept anything" on the one route
        # that bypasses basic auth
        # constant-time compare: this is the one route that BYPASSES
        # basic auth, gated solely by this token
        if not self.sup.slack_token or not hmac.compare_digest(
            form.get("token", "").encode(), self.sup.slack_token.encode()
        ):
            return self._send("invalid token", 401, "text/plain")
        text = form.get("text", "")
        out = slack_command(self.sup.engine, text)  # 12 KB cap inside
        return self._send(out, 200, "text/plain")

    # -- verb dispatch ------------------------------------------------------

    def _dispatch(self, method: str):
        try:
            self._route(method)
        except _BodyError as ex:
            # malformed body → jresp error envelope, connection stays up
            self._jresp_err(str(ex))

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def do_PUT(self):
        self._dispatch("PUT")

    def do_DELETE(self):
        self._dispatch("DELETE")
