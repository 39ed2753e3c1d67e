"""One protocol core behind both server forms.

``server.handle`` answers every endpoint; the threaded form
(``serve``) and the ASGI form (``make_asgi_app``) only frame its
responses.  These tests drive each route through both forms and compare
what a client sees: status, headers (less the ones a server form owns:
framing, ``Date``, ``Server``) and the decoded payload.  They also pin the
rules the two forms used to disagree on: ``GET /query`` on ASGI, dataset
names that need percent-quoting, CORS on every response, the HTTP/1.0
identity default, and the layer functions the traced benchmark wraps.
"""

from __future__ import annotations

import asyncio
import http.client
import io
import json
import re
from urllib.parse import quote, quote_plus, unquote, urlsplit

import pyarrow as pa
import pytest

import arrow_experiments_spark.transport.server as server_mod
from arrow_experiments_spark.transport.asgi import make_asgi_app
from arrow_experiments_spark.transport.dissociated import (
    parse_body_stream,
    parse_meta_stream,
    reassemble,
)
from arrow_experiments_spark.transport.ipc_stream import decode_body
from arrow_experiments_spark.transport.multipart import parse_multipart, read_arrow_part
from arrow_experiments_spark.transport.negotiation import ARROW_STREAM_CONTENT_TYPE
from arrow_experiments_spark.transport.server import DatasetRegistry, serve

CORS = {
    "access-control-allow-origin": "*",
    "access-control-allow-methods": "GET, POST",
    "access-control-allow-headers": "Content-Type",
}
# headers a server form adds or frames on its own
FORM_HEADERS = {"date", "server", "content-length", "transfer-encoding", "connection"}


@pytest.fixture(scope="module")
def table() -> pa.Table:
    n = 5_000
    return pa.table(
        {
            "a": pa.array(range(n), pa.int64()),
            "b": pa.array([i * 3 for i in range(n)], pa.int64()),
            "s": pa.array([f"row{i}" for i in range(n)]),
        }
    )


def ipc_bytes(table: pa.Table, max_chunksize: int | None = None) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for b in table.to_batches(max_chunksize=max_chunksize):
            w.write_batch(b)
    return sink.getvalue()


def duckdb_runner(table: pa.Table):
    """A ``sql_runner`` over one view ``bench``: planner errors raise."""
    import threading

    import duckdb

    con = duckdb.connect()
    con.register("bench", table)
    lock = threading.Lock()  # the connection is shared by handler threads

    def runner(sql: str) -> pa.RecordBatchReader:
        with lock:
            got = con.execute(sql).arrow()
        if isinstance(got, pa.RecordBatchReader):
            got = got.read_all()
        return pa.RecordBatchReader.from_batches(got.schema, got.to_batches())

    return runner


class Forms:
    """The same registry behind a threaded server and an ASGI app.
    ``threaded`` and ``asgi`` each send (method, target, headers, body)
    and return (status, lower-cased headers, body)."""

    def __init__(self, registry: DatasetRegistry, **kwargs) -> None:
        self.app = make_asgi_app(registry, **kwargs)
        self.httpd = serve(registry, **kwargs)
        self.host = "%s:%d" % self.httpd.server_address

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    def threaded(self, method, target, headers=None, body=None, http10=False):
        """Send only the given headers (plus Host and a body's
        Content-Length), as curl does."""
        cls = _HTTP10Connection if http10 else http.client.HTTPConnection
        conn = cls(*self.httpd.server_address, timeout=30)
        try:
            conn.putrequest(method, target, skip_accept_encoding=True)
            for k, v in (headers or {}).items():
                conn.putheader(k, v)
            if body is not None:
                conn.putheader("Content-Length", str(len(body)))
            conn.endheaders(body)
            resp = conn.getresponse()
            return resp.status, {k.lower(): v for k, v in resp.getheaders()}, resp.read()
        finally:
            conn.close()

    def asgi(self, method, target, headers=None, body=None, http10=False):
        """Drive the ASGI 3 protocol as an HTTP server would: the path in
        the scope is percent-decoded, and Host is sent."""
        raw_path, _, query = target.partition("?")
        headers = {"Host": self.host, **(headers or {})}
        scope = {
            "type": "http",
            "asgi": {"version": "3.0"},
            "http_version": "1.0" if http10 else "1.1",
            "method": method,
            "path": unquote(raw_path),
            "raw_path": raw_path.encode(),
            "query_string": query.encode(),
            "headers": [(k.lower().encode(), v.encode()) for k, v in headers.items()],
        }
        sent = {"body": b""}
        pending = [{"type": "http.request", "body": body or b"", "more_body": False}]

        async def receive():
            return pending.pop() if pending else {"type": "http.disconnect"}

        async def send(msg):
            if msg["type"] == "http.response.start":
                sent["status"] = msg["status"]
                sent["headers"] = {k.decode(): v.decode() for k, v in msg["headers"]}
                assert all(k.decode() == k.decode().lower() for k, _ in msg["headers"])
            else:
                assert type(msg["body"]) is bytes
                sent["body"] += msg["body"]

        asyncio.run(self.app(scope, receive, send))
        return sent["status"], sent["headers"], sent["body"]

    def both(self, *args, **kwargs):
        return {"threaded": self.threaded(*args, **kwargs), "asgi": self.asgi(*args, **kwargs)}


class _HTTP10Connection(http.client.HTTPConnection):
    _http_vsn = 10
    _http_vsn_str = "HTTP/1.0"


def strategy_of(headers: dict[str, str]) -> str:
    m = re.search(r"codecs=(\w+)", headers.get("content-type", ""))
    if m:
        return f"identity+{m.group(1)}"
    return headers.get("content-encoding", "identity")


def payload(kind: str, headers: dict[str, str], body: bytes):
    """What a client decodes from a response of ``kind``."""
    if kind == "json":
        return json.loads(body)
    if kind == "arrow":
        return decode_body(io.BytesIO(body), strategy_of(headers)).read_all()
    if kind == "multipart":
        parts = parse_multipart(body, headers["content-type"])
        return json.loads(parts["application/json"][0]), read_arrow_part(parts)
    return body


def header_set(headers: dict[str, str]) -> dict[str, str]:
    out = {k: v for k, v in headers.items() if k not in FORM_HEADERS}
    if "content-type" in out:  # a multipart boundary is random per response
        out["content-type"] = re.sub(r"boundary=\S+", "boundary=*", out["content-type"])
    return out


@pytest.fixture(scope="module")
def forms(table):
    registry = DatasetRegistry()
    registry.register_table("bench", table, meta={"description": "core parity"})
    registry.register_file("random.arrows", ipc_bytes(table, 1000))
    forms = Forms(registry, sql_runner=duckdb_runner(table))
    yield forms
    forms.close()


ARROW = {"Content-Type": ARROW_STREAM_CONTENT_TYPE}
SQL = quote_plus("SELECT a, b FROM bench WHERE a < 7 ORDER BY a")

# (method, target, request headers, body, expected status, payload kind)
ROUTES = [
    ("GET", "/catalog", {}, None, 200, "json"),
    ("GET", "/datasets/bench", {}, None, 200, "arrow"),
    ("GET", "/datasets/bench", {"Accept-Encoding": "identity"}, None, 200, "arrow"),
    ("GET", "/datasets/bench", {"Accept-Encoding": "zstd"}, None, 200, "arrow"),
    ("GET", "/datasets/bench", {"Accept-Encoding": "br"}, None, 200, "arrow"),
    ("GET", "/datasets/bench", {"Accept": f"{ARROW_STREAM_CONTENT_TYPE}; codecs=lz4"},
     None, 200, "arrow"),
    ("GET", "/datasets/bench?columns=a,s&limit=2500&batch_rows=512",
     {"Accept-Encoding": "identity"}, None, 200, "arrow"),
    ("GET", "/datasets/bench?columns=zz", {}, None, 400, "json"),
    ("GET", "/datasets/bench?batch_rows=0", {}, None, 400, "json"),
    ("GET", "/datasets/bench?multipart=1", {}, None, 200, "multipart"),
    ("GET", "/datasets/bench", {"Accept-Encoding": "gzip;q=banana"}, None, 406, "raw"),
    ("GET", "/datasets/bench", {"Accept-Encoding": "*;q=0"}, None, 406, "raw"),
    ("GET", "/datasets/nope", {}, None, 404, "raw"),
    ("GET", "/datasets/bench/describe", {}, None, 200, "json"),
    ("GET", "/datasets/nope/describe", {}, None, 404, "raw"),
    ("GET", "/datasets/bench/meta?want_data=bench", {}, None, 200, "raw"),
    ("GET", "/datasets/bench/body?want_data=bench", {}, None, 200, "raw"),
    ("GET", "/datasets/bench/body?want_data=other", {}, None, 400, "json"),
    ("GET", "/files/random.arrows", {}, None, 200, "raw"),
    ("GET", "/files/random.arrows", {"Range": "bytes=100-199"}, None, 206, "raw"),
    ("GET", "/files/random.arrows", {"Range": "bytes=-64"}, None, 206, "raw"),
    ("GET", "/files/random.arrows", {"Range": "bytes=99999999-"}, None, 416, "raw"),
    ("GET", "/files/nope", {}, None, 404, "raw"),
    ("HEAD", "/files/random.arrows", {}, None, 200, "raw"),
    ("HEAD", "/datasets/bench", {}, None, 404, "raw"),
    ("GET", f"/query?sql={SQL}", {"Accept-Encoding": "zstd"}, None, 200, "arrow"),
    ("GET", f"/query?sql={quote_plus('SELECT nope')}", {}, None, 400, "json"),
    ("GET", "/query", {}, None, 400, "json"),
    ("GET", "/nope", {}, None, 404, "raw"),
    ("POST", "/ingest/posted", ARROW, "ipc", 200, "json"),
    ("POST", "/ingest/posted", ARROW, b"not arrow", 400, "json"),
    ("POST", "/nope", ARROW, b"x", 404, "raw"),
]


@pytest.mark.parametrize(
    "method,target,req_headers,body,status,kind",
    ROUTES,
    ids=[f"{m} {t} {' '.join(h.values())}".strip() for m, t, h, *_ in ROUTES],
)
def test_route_parity(forms, table, method, target, req_headers, body, status, kind):
    if body == "ipc":
        body = ipc_bytes(table)
    got = forms.both(method, target, req_headers, body)
    (t_status, t_headers, t_body), (a_status, a_headers, a_body) = got.values()
    assert t_status == a_status == status
    assert header_set(t_headers) == header_set(a_headers)
    assert payload(kind, t_headers, t_body) == payload(kind, a_headers, a_body)
    for form, (_, headers, _) in got.items():
        assert not CORS.keys() & headers.keys(), form


@pytest.mark.parametrize(
    "target", ["/catalog", "/datasets/bench", "/files/random.arrows", "/nope"]
)
def test_threaded_keep_alive_client_reconnects(forms, target):
    """The threaded form closes each connection after one response and
    says so, so a client that keeps connections open sends its second
    request on a new one instead of a closed socket."""
    conn = http.client.HTTPConnection(*forms.httpd.server_address, timeout=30)
    try:
        for _ in range(2):
            conn.request("GET", target, headers={"Accept-Encoding": "identity"})
            resp = conn.getresponse()
            resp.read()
            assert resp.getheader("Connection") == "close"
    finally:
        conn.close()


def test_query_on_both_forms(table):
    """``GET /query`` plans through the runner on both forms: the same
    rows, the planner's message on bad SQL, 404 without a runner, and
    the identity default on HTTP/1.0."""
    expected = table.select(["a", "b"]).slice(0, 7)
    with_runner = Forms(DatasetRegistry(), sql_runner=duckdb_runner(table))
    without = Forms(DatasetRegistry())
    try:
        for form in ("threaded", "asgi"):
            send = getattr(with_runner, form)
            status, headers, body = send("GET", f"/query?sql={SQL}")
            assert status == 200, body
            assert headers["content-encoding"] == "gzip"
            assert decode_body(io.BytesIO(body), "gzip").read_all().equals(expected)

            status, headers, body = send("GET", f"/query?sql={SQL}", http10=True)
            assert status == 200
            assert "content-encoding" not in headers
            assert pa.ipc.open_stream(body).read_all().equals(expected)

            status, _, body = send("GET", f"/query?sql={quote_plus('SELECT nope FROM bench')}")
            assert status == 400
            assert "nope" in json.loads(body)["error"]

            status, _, _ = getattr(without, form)("GET", f"/query?sql={SQL}")
            assert status == 404
    finally:
        with_runner.close()
        without.close()


def test_names_needing_quotes_round_trip(table):
    """A name that needs percent-quoting registers decoded on both forms,
    and every URI /describe and /catalog emit for it can be fetched."""
    for form in ("threaded", "asgi"):
        registry = DatasetRegistry()
        forms = Forms(registry)
        send = getattr(forms, form)
        try:
            status, _, doc = send("POST", "/ingest/a%20b", ARROW, ipc_bytes(table))
            assert status == 200, doc
            assert json.loads(doc)["name"] == "a b"
            assert registry.names() == ["a b"]

            status, _, doc = send("GET", "/datasets/a%20b/describe")
            assert status == 200
            described = json.loads(doc)
            assert described["name"] == "a b"
            data, split = described["endpoints"]
            streams = {}
            for key, uri in [("uri", data["uri"]), *split.items()]:
                u = urlsplit(uri)
                assert " " not in uri
                target = u.path + (f"?{u.query}" if u.query else "")
                status, headers, body = send("GET", target, {"Accept-Encoding": "identity"})
                assert status == 200, (form, key, body)
                streams[key] = body
            assert pa.ipc.open_stream(streams["uri"]).read_all().equals(table)
            got = reassemble(
                parse_meta_stream(streams["meta_uri"]), parse_body_stream(streams["body_uri"])
            )
            assert got.equals(table)

            status, _, doc = send("GET", "/catalog")
            (entry,) = json.loads(doc)["arrow_stream_files"]
            assert entry["uri"].endswith("/datasets/" + quote("a b"))
        finally:
            forms.close()


def test_cors_on_every_response(table):
    """With ``cors=True`` every response carries the three
    ``Access-Control-*`` headers on both forms, errors included."""
    registry = DatasetRegistry()
    registry.register_table("bench", table)
    registry.register_file("random.arrows", ipc_bytes(table))
    forms = Forms(registry, cors=True)
    cases = [
        ("GET", "/datasets/nope", {}, 404),
        ("GET", "/datasets/bench", {"Accept-Encoding": "*;q=0"}, 406),
        ("GET", "/files/random.arrows", {"Range": "bytes=0-9"}, 206),
        ("GET", "/files/random.arrows", {"Range": "bytes=99999999-"}, 416),
        ("HEAD", "/files/random.arrows", {}, 200),
        ("GET", "/datasets/bench/describe", {}, 200),
    ]
    try:
        for method, target, headers, status in cases:
            for form, (got, resp_headers, _) in forms.both(method, target, headers).items():
                assert got == status, (form, target)
                assert CORS.items() <= resp_headers.items(), (form, target, status)
        # the threaded form's own refusal of a body without a length
        conn = http.client.HTTPConnection(*forms.httpd.server_address, timeout=30)
        try:
            conn.request("POST", "/ingest/x", headers={"Transfer-Encoding": "chunked"})
            resp = conn.getresponse()
            assert resp.status == 411
            assert CORS.items() <= {k.lower(): v for k, v in resp.getheaders()}.items()
        finally:
            conn.close()
    finally:
        forms.close()


# the HTTP/1.0 rows of the curl compression matrix
# (get_compressed/curl/client/client.sh:31-45)
HTTP10_MATRIX = [
    ({}, "identity"),
    ({"Accept-Encoding": "gzip, *;q=0"}, "gzip"),
    ({"Accept-Encoding": "zstd, *;q=0"}, "zstd"),
    ({"Accept-Encoding": "br, *;q=0"}, "br"),
    ({"Accept": f'{ARROW_STREAM_CONTENT_TYPE}; codecs="zstd, lz4"'}, "identity+zstd"),
    ({"Accept": f"{ARROW_STREAM_CONTENT_TYPE}; codecs=lz4"}, "identity+lz4"),
]


@pytest.mark.parametrize("req_headers,strategy", HTTP10_MATRIX)
def test_http10_matrix_on_both_forms(forms, table, req_headers, strategy):
    for form, (status, headers, body) in forms.both(
        "GET", "/datasets/bench", req_headers, http10=True
    ).items():
        assert status == 200, form
        assert strategy_of(headers) == strategy, form
        assert "transfer-encoding" not in headers, form
        assert decode_body(io.BytesIO(body), strategy).read_all().equals(table), form


def test_streamed_get_calls_the_traced_layer_functions(table, monkeypatch):
    """The traced benchmark run wraps ``server.encode_ipc_chunks`` and
    ``server.write_chunked`` in place: a streamed GET reaches the encode
    function on both forms, and the chunked writer on the threaded one."""
    calls: list[str] = []

    def spy(name):
        orig = getattr(server_mod, name)

        def wrapped(*args, **kwargs):
            calls.append(name)
            return orig(*args, **kwargs)

        monkeypatch.setattr(server_mod, name, wrapped)

    spy("encode_ipc_chunks")
    spy("write_chunked")
    registry = DatasetRegistry()
    registry.register(
        "live",
        lambda: pa.RecordBatchReader.from_batches(table.schema, table.to_batches()),
        schema=table.schema,
    )
    forms = Forms(registry)
    try:
        status, _, body = forms.threaded("GET", "/datasets/live", {"Accept-Encoding": "zstd"})
        assert status == 200
        assert decode_body(io.BytesIO(body), "zstd").read_all().equals(table)
        assert calls == ["encode_ipc_chunks", "write_chunked"]
        calls.clear()
        status, _, body = forms.asgi("GET", "/datasets/live", {"Accept-Encoding": "zstd"})
        assert status == 200
        assert decode_body(io.BytesIO(body), "zstd").read_all().equals(table)
        assert calls == ["encode_ipc_chunks"]
    finally:
        forms.close()


def test_replay_order_and_fallback(table, tmp_path):
    """``DatasetRegistry.replay`` serves cached 1 MiB slices for a
    pre-materialized table under every cached strategy, the disk artifact
    of an opted-in factory dataset once filled, and None otherwise."""
    registry = DatasetRegistry()
    registry.register_table("t", table)
    for strategy in ("identity", "gzip", "br", "zstd", "identity+zstd", "identity+lz4"):
        slices = list(registry.replay("t", strategy))
        assert all(isinstance(s, memoryview) and len(s) <= 1 << 20 for s in slices)
        assert decode_body(io.BytesIO(b"".join(slices)), strategy).read_all().equals(table)

    def factory():
        return pa.RecordBatchReader.from_batches(table.schema, table.to_batches())

    registry.register("f", factory, schema=table.schema)
    assert registry.replay("f", "identity") is None
    assert registry.replay("f", "zstd") is None
    registry.enable_encoded_artifact("f", str(tmp_path / "artifacts"))
    assert registry.replay("f", "zstd") is None
    encoded = b"".join(
        registry.tee_encoded("f", "zstd", server_mod.encode_ipc_chunks(table.schema, factory(), "zstd"))
    )
    assert b"".join(registry.replay("f", "zstd")) == encoded
    assert registry.replay("f", "identity") is None
