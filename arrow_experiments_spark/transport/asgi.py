"""ASGI form of the Arrow-over-HTTP egress service.

The reference ships its get_simple server in two deployment postures: a
stdlib ``http.server`` form and a FastAPI/uvicorn form whose handler wraps
the same generator in a ``StreamingResponse``
(http/get_simple/python/server/fastapi_uvicorn/server.py:60-75).  This
module is the engine's second posture: a dependency-free ASGI 3 callable
(the protocol FastAPI/Starlette compile down to) wrapping the SAME
registry / negotiation / IPC-encode stack as the threaded server — one
protocol implementation, two server forms.

No ASGI framework or server is required to construct or test the app (the
interop tests drive the ASGI protocol directly); ``serve_asgi`` runs it
under uvicorn when that is installed.  Response bodies are produced by the
same synchronous chunk generators the threaded server streams; a real
deployment puts workers in front exactly as FastAPI's ``StreamingResponse``
does with sync generators (anyio thread offload).  Chunked vs
Content-Length framing is the ASGI server's job, so unlike the threaded
form this module never emits ``Transfer-Encoding`` itself.
"""

from __future__ import annotations

import json
from urllib.parse import unquote

import pyarrow as pa

from arrow_experiments_spark.transport.ipc_stream import encode_ipc_chunks
from arrow_experiments_spark.transport.multipart import (
    content_type as multipart_content_type,
    encode_multipart,
    make_boundary,
)
from arrow_experiments_spark.transport.negotiation import (
    ARROW_STREAM_CONTENT_TYPE,
    NotAcceptable,
    choose_strategy,
)
from arrow_experiments_spark.transport.server import (
    AVAILABLE_CODINGS,
    AVAILABLE_IPC_CODECS,
    DatasetRegistry,
    decode_ingest,
    project_reader,
    rebatch_reader,
    resolve_range,
)


class _Headers:
    """Case-insensitive view over ASGI's [(bytes, bytes), ...] headers —
    the ``.get("Accept")`` interface choose_strategy expects."""

    def __init__(self, raw: list[tuple[bytes, bytes]]) -> None:
        self._h: dict[str, str] = {}
        for k, v in raw:
            self._h[k.decode("latin-1").lower()] = v.decode("latin-1")

    def get(self, name: str, default: str | None = None) -> str | None:
        return self._h.get(name.lower(), default)


async def _send_response(send, status, headers, chunks) -> None:
    await send(
        {
            "type": "http.response.start",
            "status": status,
            "headers": [
                (k.encode("latin-1"), v.encode("latin-1")) for k, v in headers
            ],
        }
    )
    it = iter(chunks)
    prev = None
    for chunk in it:
        if prev is not None:
            await send(
                {"type": "http.response.body", "body": prev, "more_body": True}
            )
        prev = chunk
    await send(
        {"type": "http.response.body", "body": prev or b"", "more_body": False}
    )


def _json(obj, status: int = 200):
    body = json.dumps(obj).encode()
    return status, [("content-type", "application/json")], [body]


def make_asgi_app(registry: DatasetRegistry, cors: bool = False, sql_runner=None):
    """Build the ASGI 3 application fronting ``registry`` — the uvicorn/
    FastAPI-deployable twin of ``serve()``'s threaded handler.  With
    ``sql_runner`` (str -> RecordBatchReader) it also answers
    ``GET /query?sql=...``."""

    def cors_headers() -> list[tuple[str, str]]:
        if not cors:
            return []
        return [
            ("access-control-allow-origin", "*"),
            ("access-control-allow-methods", "GET, POST"),
            ("access-control-allow-headers", "Content-Type"),
        ]

    def get_query(params: dict[str, str], headers: _Headers):
        """Ad-hoc SQL entry point, parity with the threaded form's
        GET /query?sql=... (404 without a runner, 400 on planner error)."""
        if sql_runner is None:
            return 404, [("content-length", "0")], []
        from urllib.parse import unquote_plus

        sql = unquote_plus(params.get("sql", "")).strip()
        if not sql:
            return _json({"error": "missing sql parameter"}, status=400)
        try:
            reader = sql_runner(sql)
        except Exception as e:  # noqa: BLE001 — planner errors -> 400
            return _json({"error": str(e).split("\n")[0][:500]}, status=400)
        try:
            strategy = choose_strategy(
                headers, AVAILABLE_IPC_CODECS, AVAILABLE_CODINGS, "gzip"
            )
        except NotAcceptable as e:
            return _not_acceptable(str(e), headers)
        if strategy is None:
            return _not_acceptable("no available coding is acceptable", headers)
        resp_headers = [
            (
                "content-type",
                f"{ARROW_STREAM_CONTENT_TYPE}; codecs={strategy[9:]}"
                if strategy.startswith("identity+")
                else ARROW_STREAM_CONTENT_TYPE,
            ),
            ("content-disposition", 'attachment; filename="output.arrows"'),
        ]
        if not strategy.startswith("identity"):
            resp_headers.append(("content-encoding", strategy))
        return 200, resp_headers, encode_ipc_chunks(reader.schema, reader, strategy)

    def get_catalog(host: str):
        listing = {
            "arrow_stream_files": [
                {"uri": f"http://{host}/files/{n}"} for n in registry.file_names()
            ]
            + [{"uri": f"http://{host}/datasets/{n}"} for n in registry.names()]
        }
        return _json(listing)

    def get_describe(name: str, host: str):
        schema = registry.schema(name)
        if schema is None:
            return 404, [("content-length", "0")], []
        return _json(
            {
                "name": name,
                "schema": [
                    {"name": f.name, "type": str(f.type), "nullable": f.nullable}
                    for f in schema
                ],
                "endpoints": [
                    {"uri": f"http://{host}/datasets/{name}"},
                    {
                        "meta_uri": f"http://{host}/datasets/{name}/meta?want_data={name}",
                        "body_uri": f"http://{host}/datasets/{name}/body?want_data={name}",
                    },
                ],
                "metadata": registry.meta(name),
                "params": ["columns", "limit", "batch_rows", "multipart"],
            }
        )

    def get_dissociated(name: str, which: str, params: dict[str, str]):
        from arrow_experiments_spark.transport.dissociated import (
            encode_body_stream,
            encode_meta_stream,
        )

        reader = registry.reader(name)
        if reader is None:
            return 404, [("content-length", "0")], []
        if params.get("want_data") != name:
            return _json(
                {
                    "error": "want_data handshake required",
                    "expected": name,
                    "got": params.get("want_data"),
                },
                status=400,
            )
        encode = encode_meta_stream if which == "meta" else encode_body_stream
        return (
            200,
            [("content-type", "application/octet-stream")],
            encode(reader),
        )

    def get_dataset(name: str, params: dict[str, str], headers: _Headers):
        reader = registry.reader(name)
        if reader is None:
            return 404, [("content-length", "0")], []
        if "columns" in params or "limit" in params or "batch_rows" in params:
            try:
                cols = (
                    [unquote(c) for c in params["columns"].split(",") if c]
                    if "columns" in params
                    else None
                )
                limit = int(params["limit"]) if "limit" in params else None
                if cols is not None or limit is not None:
                    reader = project_reader(reader, cols, limit)
                if "batch_rows" in params:
                    reader = rebatch_reader(reader, int(params["batch_rows"]))
            except (KeyError, ValueError) as e:
                return _json({"error": str(e)}, status=400)

        if params.get("multipart"):
            boundary = make_boundary()
            return (
                200,
                [("content-type", multipart_content_type(boundary))],
                encode_multipart(
                    boundary,
                    {"name": name, **registry.meta(name)},
                    reader.schema,
                    reader,
                ),
            )

        # ASGI is HTTP/1.1-or-later by construction (uvicorn speaks 1.1),
        # so the negotiation default is the 1.1 default — the HTTP/1.0
        # downgrade path lives only in the threaded form.
        try:
            strategy = choose_strategy(
                headers, AVAILABLE_IPC_CODECS, AVAILABLE_CODINGS, "gzip"
            )
        except NotAcceptable as e:
            return _not_acceptable(str(e), headers)
        if strategy is None:
            return _not_acceptable("no available coding is acceptable", headers)

        resp_headers = [
            (
                "content-type",
                f"{ARROW_STREAM_CONTENT_TYPE}; codecs={strategy[9:]}"
                if strategy.startswith("identity+")
                else ARROW_STREAM_CONTENT_TYPE,
            ),
            ("content-disposition", 'attachment; filename="output.arrows"'),
        ]
        if not strategy.startswith("identity"):
            resp_headers.append(("content-encoding", strategy))
        plain = not any(
            k in params for k in ("columns", "limit", "batch_rows", "multipart")
        )
        if strategy == "identity" and plain:
            # cached-replay parity with the threaded form (in-memory body
            # or raw file-backed source); ASGI bodies must be real bytes
            # per spec, so each slice pays one copy here
            slices = registry.identity_stream(name)
            if slices is not None:
                return 200, resp_headers, (bytes(sl) for sl in slices)
        if strategy in DatasetRegistry.CACHED_CODINGS and plain:
            # compress-once replay parity with the threaded form
            slices = registry.encoded_slices(name, strategy)
            if slices is not None:
                return 200, resp_headers, (bytes(sl) for sl in slices)
        if strategy.startswith("identity+") and plain:
            # encode-once replay of the IPC-codec body, threaded-form parity
            slices = registry.ipc_codec_slices(name, strategy[9:])
            if slices is not None:
                return 200, resp_headers, (bytes(sl) for sl in slices)
        chunks = encode_ipc_chunks(reader.schema, reader, strategy)
        if plain and strategy != "identity":
            # disk-backed encode-once replay / cache fill, threaded parity
            slices = registry.encoded_artifact_stream(name, strategy)
            if slices is not None:
                return 200, resp_headers, slices
            chunks = registry.tee_encoded(name, strategy, chunks)
        return 200, resp_headers, chunks

    def _not_acceptable(why: str, headers: _Headers):
        msg = f"Not Acceptable: {why}\n"
        for h in ("Accept", "Accept-Encoding"):
            v = headers.get(h)
            if v is not None:
                msg += f"`{h}` header was {v!r}.\n"
        body = msg.encode()
        return (
            406,
            [("content-type", "text/plain"), ("content-length", str(len(body)))],
            [body],
        )

    def get_file(name: str, headers: _Headers, head_only: bool = False):
        data = registry.file(name)
        if data is None:
            return 404, [("content-length", "0")], []
        rng = headers.get("Range")
        if rng and not head_only:
            resolved = resolve_range(rng, len(data))
            if resolved is None:
                return 416, [("content-range", f"bytes */{len(data)}")], []
            start, end = resolved
            part = data[start : end + 1]
            return (
                206,
                [
                    ("content-type", ARROW_STREAM_CONTENT_TYPE),
                    ("content-range", f"bytes {start}-{end}/{len(data)}"),
                    ("content-length", str(len(part))),
                    ("accept-ranges", "bytes"),
                ],
                [part],
            )
        hdrs = [
            ("content-type", ARROW_STREAM_CONTENT_TYPE),
            ("content-length", str(len(data))),
            ("accept-ranges", "bytes"),
        ]
        return 200, hdrs, [] if head_only else [data]

    def post_ingest(name: str, body: bytes, headers: _Headers):
        try:
            meta, tbl = decode_ingest(
                body,
                headers.get("Content-Type") or "",
                headers.get("Content-Encoding") or "identity",
            )
        except Exception as e:  # malformed stream / malformed parts
            return _json({"error": str(e)}, status=400)
        registry.register_table(name, tbl, meta=meta or None)
        return _json(
            {
                "name": name,
                "rows": tbl.num_rows,
                "columns": tbl.num_columns,
                "metadata": meta,
            }
        )

    async def app(scope, receive, send) -> None:
        if scope["type"] == "lifespan":  # uvicorn startup/shutdown chatter
            while True:
                msg = await receive()
                if msg["type"] == "lifespan.startup":
                    await send({"type": "lifespan.startup.complete"})
                elif msg["type"] == "lifespan.shutdown":
                    await send({"type": "lifespan.shutdown.complete"})
                    return
        if scope["type"] != "http":
            raise RuntimeError(f"unsupported scope type: {scope['type']}")
        method = scope["method"]
        path = scope["path"]
        query = scope.get("query_string", b"").decode("latin-1")
        params = dict(
            p.split("=", 1) if "=" in p else (p, "1")
            for p in query.split("&")
            if p
        )
        headers = _Headers(scope.get("headers", []))
        host = headers.get("Host", "localhost")

        if method == "GET" and path == "/query":
            status, headers_out, chunks = get_query(params, headers)
        elif method == "GET" and path == "/catalog":
            resp = get_catalog(host)
        elif method == "GET" and path.startswith("/datasets/") and path.endswith(
            "/describe"
        ):
            resp = get_describe(path[len("/datasets/") : -len("/describe")], host)
        elif method == "GET" and path.startswith("/datasets/") and path.endswith(
            ("/meta", "/body")
        ):
            name, _, which = path[len("/datasets/") :].rpartition("/")
            resp = get_dissociated(name, which, params)
        elif method == "GET" and path.startswith("/datasets/"):
            resp = get_dataset(path[len("/datasets/") :], params, headers)
        elif method in ("GET", "HEAD") and path.startswith("/files/"):
            resp = get_file(
                path[len("/files/") :], headers, head_only=method == "HEAD"
            )
        elif method == "POST" and path.startswith("/ingest/"):
            body = b""
            while True:
                msg = await receive()
                body += msg.get("body", b"")
                if not msg.get("more_body"):
                    break
            resp = post_ingest(path[len("/ingest/") :], body, headers)
        else:
            resp = (404, [("content-length", "0")], [])

        status, resp_headers, chunks = resp
        await _send_response(send, status, resp_headers + cors_headers(), chunks)

    return app


def serve_asgi(
    registry: DatasetRegistry,
    host: str = "127.0.0.1",
    port: int = 8008,
    cors: bool = False,
    sql_runner=None,
) -> None:
    """Run the ASGI app under uvicorn (the reference's fastapi_uvicorn
    posture).  uvicorn is not part of the engine's pinned environment —
    import is gated; the app itself needs no framework."""
    try:
        import uvicorn
    except ImportError as e:  # pragma: no cover — env-dependent
        raise RuntimeError(
            "serve_asgi requires uvicorn (pip install uvicorn); the "
            "threaded form `serve()` has identical protocol behavior"
        ) from e
    uvicorn.run(
        make_asgi_app(registry, cors=cors, sql_runner=sql_runner),
        host=host,
        port=port,
    )
