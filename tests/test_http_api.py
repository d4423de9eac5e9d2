"""Supervisor HTTP control plane (http_api.py vs supervisor.go:78-95).

A live ThreadingHTTPServer on an ephemeral port, driven with urllib, in
front of a real StreamingEngine whose results and stats tables the result,
stats and query routes read — covers the route table, the jresp
envelope, the reference's exact basic-auth failure modes, the result
cursor and its paging, merge-on-read stats, admin auth, the TSV (not
JSON) BigQuery passthrough, and the Slack endpoint.
"""

from __future__ import annotations

import base64
import http.client
import json
import os
import time
import urllib.error
import urllib.request

import pytest

from cloudpelican_lsd_spark.catalog import FilterCatalog
from cloudpelican_lsd_spark.engine import CloudPelicanEngine
from cloudpelican_lsd_spark.http_api import SupervisorHTTP
from cloudpelican_lsd_spark.sources.tables import logs_view
from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine, file_source

AUTH = "Basic " + base64.b64encode(b"usr:pwd").decode()


@pytest.fixture(scope="module")
def stream_src(tmp_path_factory) -> str:
    """The text-file source directory the module server's stream reads."""
    return str(tmp_path_factory.mktemp("supervisor_src"))


@pytest.fixture(scope="module")
def server(spark, sf_dir, tmp_path_factory):
    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    stream = StreamingEngine(
        spark, eng.catalog, str(tmp_path_factory.mktemp("supervisor_stream"))
    )
    sup = SupervisorHTTP(
        eng,
        stream,
        username="usr",
        password="pwd",
        admin_password="adm",
        slack_token="slacktok",
    )
    url = sup.start()
    yield sup, url
    sup.stop()


def write_lines(src: str, lines: list[str]) -> None:
    """One new source file, moved in whole: the file source skips dot
    files, so a running stream never lists it half-written."""
    name = f"part-{time.time_ns()}.txt"
    tmp = os.path.join(src, "." + name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(src, name))


def drain(sup: SupervisorHTTP, src: str) -> None:
    """Run the stream until every source file so far is processed."""
    q = sup.stream.start(
        file_source(sup.stream.spark, src), trigger={"availableNow": True}
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()


def line(second: int, text: str, minute: int = 0) -> str:
    return f"2024-02-01T10:{minute:02d}:{second:02d}.000+00:00 web1 app: {text}"


def call(url: str, method: str = "GET", body: bytes | None = None, auth: str | None = AUTH):
    req = urllib.request.Request(url, data=body, method=method)
    if auth:
        req.add_header("Authorization", auth)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as ex:
        return ex.code, ex.read().decode()


def jcall(*args, **kw):
    code, text = call(*args, **kw)
    assert code == 200, text
    return json.loads(text)


def raw_call(url: str, headers: dict, body: bytes = b"") -> dict:
    """POST /bigquery/query with hand-set headers (urllib would fix the
    Content-Length); returns the parsed jresp body."""
    conn = http.client.HTTPConnection(url.split("//")[1], timeout=10)
    try:
        conn.putrequest("POST", "/bigquery/query", skip_accept_encoding=True)
        conn.putheader("Authorization", AUTH)
        for k, v in headers.items():
            conn.putheader(k, v)
        conn.endheaders(body)
        resp = conn.getresponse()  # a negative length would hang here
        return json.loads(resp.read().decode())
    finally:
        conn.close()


def test_auth_failure_modes(server):
    _, url = server
    # supervisor.go:822-843 exact texts
    code, text = call(f"{url}/ping", auth=None)
    assert (code, text) == (400, "bad syntax a")
    code, text = call(f"{url}/ping", auth="Bearer xyz")
    assert (code, text) == (400, "bad syntax b")
    bad = "Basic " + base64.b64encode(b"usr:wrong").decode()
    code, text = call(f"{url}/ping", auth=bad)
    assert (code, text) == (401, "authorization failed")


def test_home_and_ping(server):
    _, url = server
    assert jcall(f"{url}/")["hello"] == "This is the CloudPelican supervisor"
    assert jcall(f"{url}/ping") == {"status": True, "pong": True}


def test_filter_crud_and_results_cursor(server, stream_src):
    sup, url = server
    # validation errors use the jresp envelope (status=false, HTTP 200)
    r = jcall(f"{url}/filter?name=nore", "POST")
    assert r["status"] is False and "regex" in r["errors"][0]
    r = jcall(f"{url}/filter?name=web&regex=crudtok", "POST")
    fid = r["filter_id"]
    assert r["status"] is True and fid

    listed = jcall(f"{url}/filter")["filters"]
    assert listed[fid]["name"] == "web" and listed[fid]["regex"] == "crudtok"

    # the stream writes, the route reads (supervisor.go:450-514)
    matched = [line(1, "crudtok one error"), line(2, "crudtok two ok")]
    write_lines(stream_src, [*matched, line(3, "unrelated")])
    drain(sup, stream_src)
    r = jcall(f"{url}/filter/{fid}/result?result_offset=0")
    assert r["results"] == matched
    cursor = r["result_offset"]
    assert cursor >= 1
    r2 = jcall(f"{url}/filter/{fid}/result?result_offset={cursor}")
    assert r2["results"] == [] and r2["result_offset"] == 0
    # missing/invalid offset
    assert jcall(f"{url}/filter/{fid}/result")["status"] is False
    assert jcall(f"{url}/filter/{fid}/result?result_offset=x")["status"] is False
    # unknown filter
    assert jcall(f"{url}/filter/zz/result?result_offset=0")["status"] is False

    # delete: True then False (supervisor.go:795-810)
    assert jcall(f"{url}/filter/{fid}", "DELETE")["deleted"] is True
    assert jcall(f"{url}/filter/{fid}", "DELETE")["deleted"] is False


def test_stats_merge_and_outliers_and_admin(server, stream_src):
    sup, url = server
    fid = jcall(f"{url}/filter?name=st&regex=statstok", "POST")["filter_id"]
    bucket0, bucket1 = "1706781600", "1706781660"  # 10:00 and 10:01 UTC
    write_lines(stream_src, [
        line(1, "statstok a"), line(2, "statstok error b"), line(3, "statstok c"),
        line(4, "statstok d", minute=1),
    ])
    drain(sup, stream_src)
    stats = jcall(f"{url}/filter/{fid}/stats")["stats"]
    assert stats == {"1": {bucket0: 3, bucket1: 1}, "2": {bucket0: 1}}
    # merge on read: a later batch adds to the same bucket
    write_lines(stream_src, [line(5, "statstok e"), line(6, "statstok f")])
    drain(sup, stream_src)
    stats = jcall(f"{url}/filter/{fid}/stats")["stats"]
    assert stats == {"1": {bucket0: 5, bucket1: 1}, "2": {bucket0: 1}}
    assert jcall(f"{url}/filter/zz/stats")["status"] is False

    # outliers: validation + store
    assert jcall(f"{url}/filter/{fid}/outlier", "POST")["status"] is False
    r = jcall(f"{url}/filter/{fid}/outlier?timestamp=1700000000&score=0.8", "POST")
    assert r["stored"] is True and len(sup.outliers) == 1

    # admin routes need admin_password (adminAuth :812-819)
    code, text = call(f"{url}/admin/truncate/outliers", "DELETE")
    assert (code, text) == (401, "authorization failed")
    r = jcall(f"{url}/admin/truncate/outliers?admin_password=adm", "DELETE")
    assert r["truncated"] == 1 and list(sup.outliers) == []
    # truncation drops every merged (filter, metric, bucket) row
    merged = sup.stream.stats().count()
    assert merged >= 3
    r = jcall(f"{url}/admin/truncate/stats?admin_password=adm", "DELETE")
    assert r["truncated"] == merged
    assert jcall(f"{url}/filter/{fid}/stats")["stats"] == {}
    assert sup.stream.stats().count() == 0

    # admin config lands in engine session config via execute()
    r = jcall(f"{url}/admin/config?admin_password=adm&key=k1&value=v1", "PUT")
    assert r["config"]["k1"] == "v1"
    assert sup.engine.session["config"]["k1"] == "v1"


def test_live_line_reaches_result_route(server, stream_src):
    """A line written while the stream runs with its default trigger shows
    on the result route.  The 60 s bound only checks that the path works;
    it is not a latency gate."""
    sup, url = server
    fid = jcall(f"{url}/filter?name=live&regex=livetok", "POST")["filter_id"]
    write_lines(stream_src, [line(1, "livetok warm")])
    drain(sup, stream_src)  # the stats table exists before the live run
    cursor = jcall(f"{url}/filter/{fid}/result?result_offset=0")["result_offset"]
    q = sup.stream.start(file_source(sup.stream.spark, stream_src))
    try:
        # the store is not rewritten under a live stream
        r = jcall(f"{url}/admin/truncate/stats?admin_password=adm", "DELETE")
        assert r["status"] is False and "stop streaming queries" in r["errors"][0]
        live = line(2, "livetok live")
        write_lines(stream_src, [live])
        deadline = time.monotonic() + 60
        seen: list[str] = []
        while not seen and time.monotonic() < deadline:
            time.sleep(0.2)
            seen = jcall(f"{url}/filter/{fid}/result?result_offset={cursor}")["results"]
        assert seen == [live]
    finally:
        # an active query would make every later rewrite refuse
        q.processAllAvailable()
        q.stop()


def test_result_route_pages_without_losing_lines(server, stream_src):
    """Pages hold at most max_msgs_per_filter lines, in row_id order; the
    rest come back on the next poll, then [] with result_offset 0."""
    sup, url = server
    fid = jcall(f"{url}/filter?name=pages&regex=pagetok", "POST")["filter_id"]
    write_lines(stream_src, [line(i, f"pagetok {i}") for i in range(5)])
    drain(sup, stream_src)
    old = sup.stream.max_msgs_per_filter
    sup.stream.max_msgs_per_filter = 2
    pages, offset = [], 0
    try:
        for _ in range(3):
            r = jcall(f"{url}/filter/{fid}/result?result_offset={offset}")
            assert r["result_offset"] > offset
            pages.append(r["results"])
            offset = r["result_offset"]
        r = jcall(f"{url}/filter/{fid}/result?result_offset={offset}")
        assert r == {"status": True, "result_offset": 0, "results": []}
    finally:
        sup.stream.max_msgs_per_filter = old
    assert [len(p) for p in pages] == [2, 2, 1]
    by_row_id = [r["_raw"] for r in sup.stream.results(fid).orderBy("row_id").collect()]
    assert sum(pages, []) == by_row_id
    assert sorted(by_row_id) == sorted(line(i, f"pagetok {i}") for i in range(5))


def test_stream_must_share_the_engine_catalog(server, tmp_path):
    sup, _ = server
    other = StreamingEngine(sup.stream.spark, FilterCatalog(), str(tmp_path))
    with pytest.raises(ValueError, match="catalog"):
        SupervisorHTTP(sup.engine, other)


def test_bigquery_query_tsv(server):
    _, url = server
    code, text = call(
        f"{url}/bigquery/query",
        "POST",
        body=b"SELECT r_name FROM region ORDER BY r_name LIMIT 2",
    )
    assert code == 200
    assert text.splitlines() == ["AFRICA", "AMERICA"]  # TSV, not JSON (:276)
    code, text = call(f"{url}/bigquery/query", "POST", body=b"")
    assert code == 400


def test_bigquery_query_reads_filter_results(server, stream_src):
    """A filter name in FROM resolves to that filter's rows in the
    stream's results table."""
    sup, url = server
    fid = jcall(f"{url}/filter?name=bqf&regex=bqtok", "POST")["filter_id"]
    write_lines(stream_src, [line(i, "bqtok") for i in range(3)])
    drain(sup, stream_src)
    code, text = call(f"{url}/bigquery/query", "POST", body=b"SELECT count(*) FROM bqf")
    assert (code, text) == (200, "3")
    assert sup.stream.results(fid).count() == 3


def test_slack_endpoint(server):
    _, url = server
    body = "token=slacktok&text=" + urllib.parse.quote("show filters")
    code, text = call(f"{url}/slack", "POST", body=body.encode(), auth=None)
    assert code == 200  # its own auth model: form token, no basic auth
    code, _ = call(
        f"{url}/slack", "POST", body=b"token=wrong&text=ping", auth=None
    )
    assert code == 401
    # command errors come back as chat text, never 5xx
    code, text = call(
        f"{url}/slack",
        "POST",
        body=b"token=slacktok&text=definitely not a command",
        auth=None,
    )
    assert code == 200 and text.startswith("error:")


def test_invalid_utf8_bodies_never_drop_the_connection(server):
    """A stray invalid byte in /slack or /bigquery/query must produce a
    normal HTTP answer (errors='replace'), never an uncaught
    UnicodeDecodeError killing the handler thread mid-response."""
    _, url = server
    code, _ = call(
        f"{url}/slack", "POST", body=b"\xff\xfetoken=x&text=ping", auth=None
    )
    assert code == 401  # replaced bytes -> wrong token -> clean 401
    code, text = call(
        f"{url}/bigquery/query", "POST", body=b"\xff\xfeSELECT 1"
    )
    assert code in (200, 400)  # parsed-with-replacement or clean error
    assert text  # a real response body, not a reset connection


def test_slack_closed_without_configured_token(spark, sf_dir, tmp_path):
    """Secure default: no slack_token configured -> the endpoint rejects
    everything (it is the one route that bypasses basic auth)."""
    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    stream = StreamingEngine(spark, eng.catalog, str(tmp_path))
    sup = SupervisorHTTP(eng, stream, username="u", password="p")  # token unset
    url = sup.start()
    try:
        code, _ = call(f"{url}/slack", "POST", body=b"text=ping", auth=None)
        assert code == 401
        code, _ = call(f"{url}/slack", "POST", body=b"token=&text=ping", auth=None)
        assert code == 401
    finally:
        sup.stop()


def test_malformed_body_returns_jresp_not_dropped_connection(server):
    """An oversized body or a non-numeric Content-Length answers with the
    jresp error envelope, not an aborted connection."""
    sup, url = server
    old = sup.max_body_bytes
    sup.max_body_bytes = 1024  # small cap for the test
    try:
        # one byte over the cap: the server reads it all, so the answer
        # is never raced by a reset of unread bytes
        r = raw_call(url, {"Content-Length": "1025"}, b"x" * 1025)
        assert r["status"] is False and "too large" in r["errors"][0]
    finally:
        sup.max_body_bytes = old
    r = raw_call(url, {"Content-Length": "abc"})
    assert r["status"] is False and "Invalid Content-Length" in r["errors"][0]
    # the server survives: a normal request still works
    assert jcall(f"{url}/ping") == {"status": True, "pong": True}


def test_nonloopback_bind_requires_explicit_credentials(spark, sf_dir, tmp_path):
    """Default cloudpelican/cloudpelican creds are loopback-only."""
    eng = CloudPelicanEngine(spark, logs_view(spark, sf_dir), sf_dir=sf_dir)
    stream = StreamingEngine(spark, eng.catalog, str(tmp_path))
    sup = SupervisorHTTP(eng, stream)  # default credentials
    with pytest.raises(ValueError, match="default credentials"):
        sup.start(host="0.0.0.0")
    # loopback with defaults still fine
    url = sup.start()
    try:
        code, _ = call(f"{url}/ping", auth="Basic " + base64.b64encode(b"cloudpelican:cloudpelican").decode())
        assert code == 200
    finally:
        sup.stop()


def test_negative_content_length_rejected(server):
    """A negative Content-Length must answer jresp immediately — read(-1)
    would block until client EOF and pin the handler thread."""
    _, url = server
    body = raw_call(url, {"Content-Length": "-1"})
    assert body["status"] is False
    assert "Content-Length" in body["errors"][0]
