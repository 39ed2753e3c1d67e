"""ASGI adapter of the Arrow-over-HTTP egress service.

The reference ships its get_simple server in two deployment postures: a
stdlib ``http.server`` form and a FastAPI/uvicorn form whose handler wraps
the same generator in a ``StreamingResponse``
(http/get_simple/python/server/fastapi_uvicorn/server.py:60-75).  This
module is the engine's second posture: a dependency-free ASGI 3 callable
(the protocol FastAPI/Starlette compile down to) in front of the same
protocol core as the threaded server, ``server.handle``.

The adapter answers the lifespan protocol, collects a POST body, passes
the request (``scope["path"]`` is already percent-decoded, and
``scope["http_version"]`` sets the negotiation default) to the core, and
sends the core's response: header names lower-cased, and each chunk copied
to ``bytes`` as the ASGI spec requires.  Chunked vs Content-Length framing
is the ASGI server's job, so it never emits ``Transfer-Encoding`` itself.

No ASGI framework or server is required to construct or test the app (the
interop tests drive the ASGI protocol directly); ``serve_asgi`` runs it
under uvicorn when that is installed.  Response bodies are the core's
synchronous chunk generators; a real deployment puts workers in front
exactly as FastAPI's ``StreamingResponse`` does with sync generators
(anyio thread offload).
"""

from __future__ import annotations

from arrow_experiments_spark.transport.server import DatasetRegistry, handle


class _Headers:
    """Case-insensitive view over ASGI's [(bytes, bytes), ...] headers —
    the ``.get("Accept")`` interface the core expects."""

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
                (k.lower().encode("latin-1"), v.encode("latin-1")) for k, v in headers
            ],
        }
    )
    prev = None
    for chunk in chunks:
        if prev is not None:
            await send(
                {"type": "http.response.body", "body": prev, "more_body": True}
            )
        prev = bytes(chunk)
    await send(
        {"type": "http.response.body", "body": prev or b"", "more_body": False}
    )


def make_asgi_app(registry: DatasetRegistry, cors: bool = False, sql_runner=None):
    """Build the ASGI 3 application fronting ``registry`` — the uvicorn/
    FastAPI-deployable twin of ``serve()``'s threaded handler.  With
    ``sql_runner`` (str -> RecordBatchReader) it also answers
    ``GET /query?sql=...``."""

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
        body = []
        if scope["method"] == "POST":
            while True:
                msg = await receive()
                body.append(msg.get("body", b""))
                if not msg.get("more_body"):
                    break
        resp = handle(
            registry,
            scope["method"],
            scope["path"],
            scope.get("query_string", b"").decode("latin-1"),
            _Headers(scope.get("headers", [])),
            b"".join(body),
            http_version=scope.get("http_version", "1.1"),
            cors=cors,
            sql_runner=sql_runner,
        )
        await _send_response(send, *resp)

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
