"""ASGI server form: protocol parity with the threaded form.

The reference ships two server postures for the same protocol
(http.server and FastAPI/uvicorn — fastapi_uvicorn/server.py:60-75); the
engine mirrors that with ``serve()`` (threaded) and ``make_asgi_app``
(ASGI 3 callable).  These tests replay the negotiation matrix the curl
interop suite uses against BOTH forms and assert byte-level agreement of
the decoded payloads — same protocol implementation, two transports.
No ASGI server is required: the tests drive the ASGI protocol directly.
"""

from __future__ import annotations

import asyncio
import io
import json
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from arrow_experiments_spark.transport.asgi import make_asgi_app
from arrow_experiments_spark.transport.ipc_stream import decode_body
from arrow_experiments_spark.transport.multipart import form_data_content_type
from arrow_experiments_spark.transport.server import DatasetRegistry, serve


@pytest.fixture(scope="module")
def table() -> pa.Table:
    n = 10_000
    return pa.table(
        {
            "a": pa.array(range(n), pa.int64()),
            "b": pa.array([i * 3 for i in range(n)], pa.int64()),
            "s": pa.array([f"row{i}" for i in range(n)]),
        }
    )


@pytest.fixture(scope="module")
def registry(table) -> DatasetRegistry:
    r = DatasetRegistry()
    r.register_table("bench", table, meta={"description": "asgi parity"})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for b in table.to_batches(max_chunksize=1000):
            w.write_batch(b)
    r.register_file("random.arrows", sink.getvalue())
    return r


@pytest.fixture(scope="module")
def app(registry):
    return make_asgi_app(registry)


@pytest.fixture(scope="module")
def threaded(registry):
    httpd = serve(registry)
    host, port = httpd.server_address
    yield f"http://{host}:{port}"
    httpd.shutdown()


def asgi_request(app, method, path, headers=None, body=b""):
    """Drive the ASGI 3 protocol in-process; returns (status, headers
    lower-cased dict, body bytes)."""
    raw_path, _, query = path.partition("?")
    scope = {
        "type": "http",
        "asgi": {"version": "3.0"},
        "http_version": "1.1",
        "method": method,
        "path": raw_path,
        "query_string": query.encode(),
        "headers": [
            (k.lower().encode(), v.encode()) for k, v in (headers or {}).items()
        ],
    }
    sent = {"body": b"", "status": None, "headers": None}
    received = {"done": False}

    async def receive():
        if received["done"]:
            return {"type": "http.disconnect"}
        received["done"] = True
        return {"type": "http.request", "body": body, "more_body": False}

    async def send(msg):
        if msg["type"] == "http.response.start":
            sent["status"] = msg["status"]
            sent["headers"] = {
                k.decode().lower(): v.decode() for k, v in msg["headers"]
            }
        elif msg["type"] == "http.response.body":
            sent["body"] += msg.get("body", b"")

    asyncio.run(app(scope, receive, send))
    return sent["status"], sent["headers"], sent["body"]


def http_get(url, headers=None):
    """GET sending ONLY the given headers (urllib injects an implicit
    ``Accept-Encoding: identity``, which would defeat the default-coding
    matrix row — curl sends nothing unless told, and so does this)."""
    import http.client
    from urllib.parse import urlsplit

    u = urlsplit(url)
    conn = http.client.HTTPConnection(u.hostname, u.port)
    try:
        conn.putrequest("GET", u.path + (f"?{u.query}" if u.query else ""),
                        skip_accept_encoding=True)
        for k, v in (headers or {}).items():
            conn.putheader(k, v)
        conn.endheaders()
        resp = conn.getresponse()
        return (
            resp.status,
            {k.lower(): v for k, v in resp.getheaders()},
            resp.read(),
        )
    finally:
        conn.close()


# the HTTP/1.1 rows of the curl negotiation matrix
# (get_compressed/curl/client/client.sh:31-45); ASGI is 1.1-or-later by
# construction so the HTTP/1.0 rows apply only to the threaded form
MATRIX = [
    ({}, "gzip"),  # 1.1 default coding
    ({"Accept-Encoding": "identity"}, "identity"),
    ({"Accept-Encoding": "gzip"}, "gzip"),
    ({"Accept-Encoding": "zstd"}, "zstd"),
    ({"Accept-Encoding": "br"}, "br"),
    ({"Accept-Encoding": "zstd;q=0.5, gzip;q=1.0"}, "gzip"),
    (
        {"Accept": 'application/vnd.apache.arrow.stream; codecs="zstd"'},
        "identity+zstd",
    ),
    (
        {"Accept": 'application/vnd.apache.arrow.stream; codecs="lz4"'},
        "identity+lz4",
    ),
]


@pytest.mark.parametrize("req_headers,strategy", MATRIX)
def test_negotiation_parity(app, threaded, table, req_headers, strategy):
    a_status, a_headers, a_body = asgi_request(
        app, "GET", "/datasets/bench", headers=req_headers
    )
    t_status, t_headers, t_body = http_get(
        f"{threaded}/datasets/bench", headers=req_headers
    )
    assert a_status == t_status == 200
    assert a_headers["content-type"] == t_headers["content-type"]
    assert a_headers.get("content-encoding") == t_headers.get("content-encoding")
    got_a = decode_body(io.BytesIO(a_body), strategy).read_all()
    got_t = decode_body(io.BytesIO(t_body), strategy).read_all()
    assert got_a.equals(table)
    assert got_t.equals(table)


def test_406_parity(app, threaded):
    for hdrs in (
        {"Accept-Encoding": "gzip;q=banana"},
        {"Accept-Encoding": "*;q=0"},
    ):
        a_status, _, a_body = asgi_request(
            app, "GET", "/datasets/bench", headers=hdrs
        )
        t_status, _, t_body = http_get(f"{threaded}/datasets/bench", headers=hdrs)
        assert a_status == t_status == 406
        assert a_body == t_body


def test_404_unknown_dataset(app):
    status, _, _ = asgi_request(app, "GET", "/datasets/nope")
    assert status == 404


def test_catalog_and_describe_parity(app, threaded):
    host = threaded[len("http://") :]
    for path in ("/catalog", "/datasets/bench/describe"):
        a_status, _, a_body = asgi_request(
            app, "GET", path, headers={"Host": host}
        )
        t_status, _, t_body = http_get(f"{threaded}{path}")
        assert a_status == t_status == 200
        assert json.loads(a_body) == json.loads(t_body)


def test_projection_slice_rebatch(app, table):
    status, headers, body = asgi_request(
        app,
        "GET",
        "/datasets/bench?columns=a,s&limit=2500&batch_rows=512",
        headers={"Accept-Encoding": "identity"},
    )
    assert status == 200
    got = decode_body(io.BytesIO(body), "identity").read_all()
    assert got.column_names == ["a", "s"]
    assert got.num_rows == 2500
    assert status == 200
    bad_status, _, _ = asgi_request(app, "GET", "/datasets/bench?columns=zz")
    assert bad_status == 400


def test_multipart(app):
    from arrow_experiments_spark.transport.multipart import (
        parse_multipart,
        read_arrow_part,
    )

    status, headers, body = asgi_request(app, "GET", "/datasets/bench?multipart=1")
    assert status == 200
    assert headers["content-type"].startswith("multipart/mixed")
    parts = parse_multipart(body, headers["content-type"])
    meta = json.loads(parts["application/json"][0])
    assert meta["name"] == "bench"
    assert read_arrow_part(parts).num_rows == 10_000


def test_dissociated_streams(app, table):
    from arrow_experiments_spark.transport.dissociated import (
        parse_body_stream,
        parse_meta_stream,
        reassemble,
    )

    denied, _, _ = asgi_request(app, "GET", "/datasets/bench/meta")
    assert denied == 400
    _, _, meta_raw = asgi_request(
        app, "GET", "/datasets/bench/meta?want_data=bench"
    )
    _, _, body_raw = asgi_request(
        app, "GET", "/datasets/bench/body?want_data=bench"
    )
    got = reassemble(parse_meta_stream(meta_raw), parse_body_stream(body_raw))
    assert got.equals(table)


def test_file_range_parity(app, threaded, registry):
    data = registry.file("random.arrows")
    # HEAD for length
    status, headers, body = asgi_request(app, "HEAD", "/files/random.arrows")
    assert status == 200
    assert int(headers["content-length"]) == len(data)
    assert body == b""
    # two-part split + concatenate (the get_range curl script's shape)
    mid = len(data) // 2
    _, _, part1 = asgi_request(
        app, "GET", "/files/random.arrows", headers={"Range": f"bytes=0-{mid - 1}"}
    )
    s2, h2, part2 = asgi_request(
        app, "GET", "/files/random.arrows", headers={"Range": f"bytes={mid}-"}
    )
    assert s2 == 206
    assert h2["content-range"] == f"bytes {mid}-{len(data) - 1}/{len(data)}"
    assert part1 + part2 == data
    # suffix range + 416 parity with the threaded form
    _, _, tail = asgi_request(
        app, "GET", "/files/random.arrows", headers={"Range": "bytes=-100"}
    )
    assert tail == data[-100:]
    a416, ah, _ = asgi_request(
        app, "GET", "/files/random.arrows", headers={"Range": f"bytes={len(data)}-"}
    )
    t416, th, _ = http_get(
        f"{threaded}/files/random.arrows",
        headers={"Range": f"bytes={len(data)}-"},
    )
    assert a416 == t416 == 416
    assert ah["content-range"] == th["content-range"]


def test_post_ingest_roundtrip(app, table):
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    status, _, body = asgi_request(
        app,
        "POST",
        "/ingest/uploaded",
        headers={"Content-Type": "application/vnd.apache.arrow.stream"},
        body=sink.getvalue(),
    )
    assert status == 200
    assert json.loads(body)["rows"] == table.num_rows
    status, _, got = asgi_request(
        app, "GET", "/datasets/uploaded", headers={"Accept-Encoding": "identity"}
    )
    assert status == 200
    assert decode_body(io.BytesIO(got), "identity").read_all().equals(table)


def test_raw_spill_parity_with_threaded(tmp_path, table):
    """The file-backed raw serve path (spliced spill bytes) must produce
    byte-identical plain-identity payloads from BOTH server forms, and
    param'd requests must fall back to the reader path in both."""
    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files

    files = []
    for i, lo in enumerate(range(0, table.num_rows, 2500)):
        part = table.slice(lo, 2500)
        p = str(tmp_path / f"part-{i:08d}.arrows")
        with open(p, "wb") as f, pa.ipc.new_stream(f, table.schema) as w:
            for b in part.to_batches(max_chunksize=1000):
                w.write_batch(b)
        files.append(p)
    reg = DatasetRegistry()
    assert register_spilled_files(reg, "spilled", files, table.schema, batch_rows=1000)

    app = make_asgi_app(reg)
    httpd = serve(reg)
    host, port = httpd.server_address
    try:
        status, headers, asgi_body = asgi_request(
            app, "GET", "/datasets/spilled", {"Accept-Encoding": "identity"}
        )
        assert status == 200
        threaded_body = http_get(
            f"http://{host}:{port}/datasets/spilled",
            {"Accept-Encoding": "identity"},
        )[2]
        assert asgi_body == threaded_body
        got = pa.ipc.open_stream(io.BytesIO(asgi_body)).read_all()
        assert got.combine_chunks().equals(table.combine_chunks())
        # projection falls back to the batch reader on both forms
        s2, _, sub = asgi_request(
            app,
            "GET",
            "/datasets/spilled?columns=a&limit=7",
            {"Accept-Encoding": "identity"},
        )
        assert s2 == 200
        t2 = pa.ipc.open_stream(io.BytesIO(sub)).read_all()
        assert t2.num_rows == 7 and t2.column_names == ["a"]
    finally:
        httpd.shutdown()


def test_snapshot_dataset_parity(tmp_path, table):
    """register_snapshot works identically behind both server forms: the
    LATEST pointer resolves per request, both forms serve the current
    version's rows, and both 404 before the first commit."""
    import os

    import pyarrow.parquet as pq

    from arrow_experiments_spark.streaming.egress import register_snapshot

    snap = str(tmp_path / "snap")
    os.makedirs(os.path.join(snap, "v0"))
    pq.write_table(table, os.path.join(snap, "v0", "part-0.parquet"))
    with open(os.path.join(snap, "LATEST"), "w") as f:
        f.write("v0")

    r = DatasetRegistry()
    register_snapshot(r, "curated", snap)
    register_snapshot(r, "empty", str(tmp_path / "nosnap"))
    app = make_asgi_app(r)
    httpd = serve(r)
    host, port = httpd.server_address
    try:
        status, headers, body = asgi_request(
            app, "GET", "/datasets/curated", {"accept-encoding": "identity"}
        )
        assert status == 200
        got_asgi = decode_body(io.BytesIO(body), "identity").read_all()
        req = urllib.request.Request(
            f"http://{host}:{port}/datasets/curated",
            headers={"Accept-Encoding": "identity"},
        )
        with urllib.request.urlopen(req) as resp:
            got_threaded = decode_body(io.BytesIO(resp.read()), "identity").read_all()
        assert got_asgi.equals(table.select(got_asgi.column_names))
        assert got_threaded.equals(got_asgi)

        status, _h, _b = asgi_request(app, "GET", "/datasets/empty")
        assert status == 404
        try:
            urllib.request.urlopen(f"http://{host}:{port}/datasets/empty")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()


def _form_body(table: pa.Table) -> tuple[bytes, str]:
    """A well-formed POST /ingest form body and its boundary."""
    from arrow_experiments_spark.transport.multipart import encode_form_data, make_boundary

    boundary = make_boundary()
    body = b"".join(encode_form_data(boundary, {"k": "v"}, table.schema, table.to_batches()))
    return body, boundary


def _truncated(table) -> tuple[bytes, str]:
    """The Arrow part is complete; the closing delimiter is missing."""
    body, boundary = _form_body(table)
    closing = f"--{boundary}--\r\n".encode()
    assert body.endswith(closing)
    return body[: -len(closing)], boundary


def _base64_part(table) -> tuple[bytes, str]:
    """The Arrow part declares a Content-Transfer-Encoding."""
    from arrow_experiments_spark.transport.negotiation import ARROW_STREAM_CONTENT_TYPE

    body, boundary = _form_body(table)
    header = f"Content-Type: {ARROW_STREAM_CONTENT_TYPE}\r\n".encode()
    assert body.count(header) == 1
    body = body.replace(header, header + b"Content-Transfer-Encoding: base64\r\n")
    return body, boundary


@pytest.mark.parametrize("make_body", [_truncated, _base64_part])
def test_post_malformed_form_is_400_on_both_forms(app, threaded, table, make_body):
    """A form body without its closing delimiter, or with a part in a
    Content-Transfer-Encoding, is refused with 400 by both server forms
    and registers nothing."""
    body, boundary = make_body(table)
    ctype = form_data_content_type(boundary)
    status, _, doc = asgi_request(
        app, "POST", "/ingest/malformed", headers={"Content-Type": ctype}, body=body
    )
    assert status == 400, doc
    req = urllib.request.Request(
        f"{threaded}/ingest/malformed",
        data=body,
        headers={"Content-Type": ctype},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    exc_info.value.close()
    assert exc_info.value.code == 400
    status, _, _ = asgi_request(app, "GET", "/datasets/malformed")
    assert status == 404


def test_post_form_ingest_parity(app, threaded, table):
    """The same form body gives the same acknowledgement from both server
    forms (one ingest decode behind both)."""
    body, boundary = _form_body(table)
    ctype = form_data_content_type(boundary)
    status, _, doc = asgi_request(
        app, "POST", "/ingest/form_parity", headers={"Content-Type": ctype}, body=body
    )
    assert status == 200
    req = urllib.request.Request(
        f"{threaded}/ingest/form_parity",
        data=body,
        headers={"Content-Type": ctype},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        assert json.loads(resp.read()) == json.loads(doc)
    assert json.loads(doc) == {
        "name": "form_parity",
        "rows": table.num_rows,
        "columns": table.num_columns,
        "metadata": {"k": "v"},
    }
