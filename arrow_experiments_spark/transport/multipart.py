"""multipart/mixed responses: JSON metadata part + Arrow IPC stream part +
optional text/plain footnotes part (SURVEY.md §2.3 multipart_boundary /
multipart_write / multipart_parse; protocol doc
http/get_multipart/README.md:34-56), and the ``multipart/form-data`` body
of POST ingest.

Boundary: 28 bytes of CSPRNG entropy, base64url — fresh per response, so
it cannot collide with part payloads chosen in advance.

Parsing has one grammar (RFC 2046 §5.1.1) and two parsers built on it: a
delimiter is ``CRLF--boundary`` (the body start counts as if a CRLF came
before it), a part's header block runs to the first blank line, and
``_part_headers`` reads that block.  ``parse_multipart`` splits a whole
body with ``bytes.find``; ``iter_multipart_events`` walks a chunk
iterator with bounded buffering.
"""

from __future__ import annotations

import io
import json
import secrets
import time
from collections.abc import Iterable, Iterator

import pyarrow as pa

from arrow_experiments_spark.transport.ipc_stream import encode_ipc_chunks
from arrow_experiments_spark.transport.negotiation import ARROW_STREAM_CONTENT_TYPE


def make_boundary() -> str:
    return secrets.token_urlsafe(28)


def content_type(boundary: str) -> str:
    return f'multipart/mixed; boundary="{boundary}"'


def _part_header(boundary: str, ctype: str, extra: dict[str, str] | None = None) -> bytes:
    lines = [f"--{boundary}", f"Content-Type: {ctype}"]
    for k, v in (extra or {}).items():
        lines.append(f"{k}: {v}")
    return ("\r\n".join(lines) + "\r\n\r\n").encode()


def encode_multipart(
    boundary: str,
    meta: dict,
    schema: pa.Schema,
    batches: Iterable[pa.RecordBatch],
    footnotes: bool = True,
) -> Iterator[bytes]:
    """Yield the multipart/mixed body: JSON part, Arrow part, stats part."""
    t0 = time.perf_counter()
    yield _part_header(boundary, "application/json")
    yield json.dumps(meta).encode()
    yield b"\r\n"

    yield _part_header(
        boundary,
        ARROW_STREAM_CONTENT_TYPE,
        {"Content-Disposition": 'attachment; filename="data.arrows"'},
    )
    n_chunks = 0
    n_bytes = 0
    n_batches = 0

    def counting() -> Iterator[pa.RecordBatch]:
        nonlocal n_batches
        for b in batches:
            n_batches += 1
            yield b

    for chunk in encode_ipc_chunks(schema, counting(), "identity"):
        n_chunks += 1
        n_bytes += len(chunk)
        yield chunk
    yield b"\r\n"

    if footnotes:
        elapsed = time.perf_counter() - t0
        stats = (
            f"batches: {n_batches}\n"
            f"elapsed: {elapsed:.2f}s\n"
            f"chunks: {n_chunks}\n"
            f"avg chunk size: {n_bytes // max(n_chunks, 1)} bytes\n"
        )
        yield _part_header(boundary, "text/plain")
        yield stats.encode()
        yield b"\r\n"

    yield f"--{boundary}--\r\n".encode()


def form_data_content_type(boundary: str) -> str:
    return f'multipart/form-data; boundary="{boundary}"'


def encode_form_data(
    boundary: str,
    meta: dict,
    schema: pa.Schema,
    batches: Iterable[pa.RecordBatch],
) -> Iterator[bytes]:
    """Client-side body for POST ingest (reference
    http/post_multipart/README.md:22): ``multipart/form-data`` with a JSON
    metadata part (field ``metadata``) and an Arrow IPC stream part (field
    ``data``)."""
    yield _part_header(
        boundary,
        "application/json",
        {"Content-Disposition": 'form-data; name="metadata"'},
    )
    yield json.dumps(meta).encode()
    yield b"\r\n"
    yield _part_header(
        boundary,
        ARROW_STREAM_CONTENT_TYPE,
        {"Content-Disposition": 'form-data; name="data"; filename="data.arrows"'},
    )
    yield from encode_ipc_chunks(schema, batches, "identity")
    yield b"\r\n"
    yield f"--{boundary}--\r\n".encode()


def parse_multipart(body: bytes, content_type_header: str) -> dict[str, list[bytes]]:
    """Parse a whole multipart body into {content_type: [payload, ...]}.

    One boundary split: each delimiter is found with ``bytes.find`` and
    each payload is sliced out once, so the cost is a scan plus one copy of
    the payloads, whatever their size.  Keys are ``_part_type`` of each
    part (lowercased ``type/subtype``; ``text/plain`` when absent);
    preamble and epilogue are ignored.  Raises ValueError when the closing
    delimiter or a header terminator is missing, and when a part declares
    a Content-Transfer-Encoding other than 7bit/8bit/binary
    (``_part_headers``)."""
    dash = b"--" + _boundary_from_content_type(content_type_header).encode()
    delim = b"\r\n" + dash
    if body.startswith(dash):  # RFC 2046 §5.1.1: no preamble
        pos = len(dash)
    else:
        i = body.find(delim)
        if i < 0:
            raise ValueError("truncated multipart body")
        pos = i + len(delim)
    out: dict[str, list[bytes]] = {}
    while not body.startswith(b"--", pos):  # "--" after a delimiter closes
        j = body.find(b"\r\n\r\n", pos)
        if j < 0:
            raise ValueError("truncated part headers")
        headers = _part_headers(body[pos:j])
        k = body.find(delim, j + 4)
        if k < 0:
            raise ValueError("truncated multipart body")
        out.setdefault(_part_type(headers), []).append(body[j + 4 : k])
        pos = k + len(delim)
    return out


def read_arrow_part(parts: dict[str, list[bytes]]) -> pa.Table:
    payloads = parts.get(ARROW_STREAM_CONTENT_TYPE)
    if not payloads:
        raise ValueError("no Arrow stream part in multipart response")
    # zero-copy: the table's buffers point into the payload bytes
    return pa.ipc.open_stream(pa.py_buffer(payloads[0])).read_all()


_IDENTITY_TRANSFER_ENCODINGS = frozenset({"", "7bit", "8bit", "binary"})


def _part_headers(block: bytes) -> dict[str, str]:
    """Read one part's header block: the bytes from just after its
    delimiter up to (not including) the blank line's CRLFCRLF.

    The block's first line is the rest of the delimiter line (transport
    padding), never a header.  Names are lowercased; the first occurrence
    of a name wins, as in the ``email`` package.  A part that declares a
    Content-Transfer-Encoding other than 7bit/8bit/binary is refused with
    ValueError: RFC 7578 §4.7 deprecates the header for form-data, and
    decoding it would hand the Arrow reader different bytes than were
    sent."""
    headers: dict[str, str] = {}
    for line in block.decode("latin-1").split("\r\n")[1:]:
        name, sep, value = line.partition(":")
        if sep:
            headers.setdefault(name.strip().lower(), value.strip())
    cte = headers.get("content-transfer-encoding", "").lower()
    if cte not in _IDENTITY_TRANSFER_ENCODINGS:
        raise ValueError(f"unsupported Content-Transfer-Encoding: {cte!r}")
    return headers


def _part_type(headers: dict[str, str]) -> str:
    """Lowercased ``type/subtype`` of a part, parameters stripped;
    ``text/plain`` when the part has no or a malformed Content-Type
    (RFC 2045 §5.2) — ``email.message.Message.get_content_type``."""
    ctype = headers.get("content-type", "").partition(";")[0].strip().lower()
    return ctype if ctype.count("/") == 1 else "text/plain"


# ---- incremental parse (r7 verdict #5) ------------------------------------
# parse_multipart needs the whole body in memory, which suits an ingest
# request (the server reads it to Content-Length anyway) but not a
# multi-GB Arrow part fetched off a socket.  The feed parser below runs the
# same delimiter and header grammar as a state machine over a CHUNK
# ITERATOR: part headers are buffered (they are small by construction),
# payload bytes are re-yielded as they arrive minus a len(boundary)+4 byte
# holdback (a delimiter may span a chunk edge), so peak buffering is
# O(part-header + chunk), never O(part).  The reference client's
# BytesFeedParser loop (http/get_multipart/python/client/
# simple_client.py:35-58) is the incremental shape this generalizes;
# BytesFeedParser itself holds each part in memory, which is exactly what
# a streamed Arrow part must not do.


def _boundary_from_content_type(content_type_header: str) -> str:
    import email.message

    m = email.message.Message()
    m["Content-Type"] = content_type_header
    boundary = m.get_param("boundary")
    if not boundary:
        raise ValueError(
            f"no boundary in content type: {content_type_header!r}"
        )
    return str(boundary)


def iter_multipart_events(
    chunks: Iterable[bytes], content_type_header: str
) -> Iterator[tuple[str, object]]:
    """Incremental multipart parse: yields ``("begin", {header: value})``
    when a part's headers are complete, ``("data", bytes)`` for each run
    of that part's payload, and ``("end", None)`` when the part closes.
    Raises ValueError on a truncated body (no closing delimiter) and on a
    part ``_part_headers`` refuses."""
    delim = b"\r\n--" + _boundary_from_content_type(content_type_header).encode()
    # Preamble state treats the body start as if preceded by CRLF, per
    # RFC 2046 §5.1.1 (the first delimiter may open the body directly).
    buf = b"\r\n"
    in_part = False
    closed = False
    hold = len(delim) + 4  # delimiter + b"--\r\n" transport padding

    def feed() -> Iterator[bytes]:
        yield from chunks
        yield b""  # sentinel: flush tail state

    for chunk in feed():
        final = chunk == b""
        buf += chunk
        while True:
            if closed:
                return
            if not in_part:
                # looking for the next delimiter, then the header block
                i = buf.find(delim)
                if i < 0:
                    if final:
                        raise ValueError("truncated multipart body")
                    # drop consumed preamble/epilogue, keep a holdback
                    if len(buf) > hold:
                        buf = buf[-hold:]
                    break
                after = buf[i + len(delim):]
                if after.startswith(b"--"):
                    closed = True
                    continue
                j = after.find(b"\r\n\r\n")
                if j < 0:
                    if final:
                        raise ValueError("truncated part headers")
                    buf = buf[i:]  # keep from delimiter, wait for headers
                    break
                headers = _part_headers(after[:j])
                yield ("begin", headers)
                in_part = True
                buf = after[j + 4:]
            else:
                i = buf.find(delim)
                if i >= 0:
                    if i:
                        yield ("data", buf[:i])
                    yield ("end", None)
                    in_part = False
                    buf = buf[i:]
                    continue
                if final:
                    raise ValueError("truncated multipart body")
                # emit all but the holdback (a delimiter may straddle
                # this chunk edge), bounded memory regardless of part size
                if len(buf) > hold:
                    yield ("data", buf[:-hold])
                    buf = buf[-hold:]
                break
    if not closed:
        raise ValueError("truncated multipart body")


class _EventPayloadReader(io.RawIOBase):
    """File-like over one part's ("data", ...) events — hands pyarrow's
    stream reader bytes as they arrive, EOF at the part's "end"."""

    def __init__(self, events: Iterator[tuple[str, object]]):
        self._events = events
        self._buf = b""
        self._done = False

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        while not self._buf and not self._done:
            try:
                kind, payload = next(self._events)
            except StopIteration:
                # the event stream itself raises ValueError on a truncated
                # body; exhaustion without an "end" event means the caller
                # consumed events out from under us
                raise ValueError(
                    "multipart event stream ended mid-part"
                ) from None
            if kind == "end":
                self._done = True
            elif kind == "data":
                self._buf = payload  # type: ignore[assignment]
        n = min(len(b), len(self._buf))
        b[:n] = self._buf[:n]
        self._buf = self._buf[n:]
        return n


def stream_multipart_arrow(
    chunks: Iterable[bytes], content_type_header: str
) -> tuple[dict, pa.ipc.RecordBatchStreamReader]:
    """Streamed twin of ``parse_multipart`` + ``read_arrow_part``: consume
    body chunks incrementally, return the decoded JSON metadata part and
    a RecordBatchStreamReader over the Arrow part that decodes batch by
    batch as chunks arrive — the multi-GB Arrow part never exists in
    memory.  The caller must drain the reader before the iterator can
    advance to any later part (the trailing footnotes part is skipped)."""
    events = iter_multipart_events(chunks, content_type_header)
    meta: dict = {}
    for kind, payload in events:
        if kind != "begin":
            continue
        ctype = _part_type(payload)  # type: ignore[arg-type]
        if ctype == "application/json":
            body = b""
            for k2, p2 in events:
                if k2 == "end":
                    break
                body += p2  # type: ignore[operator]
            meta = json.loads(body or b"{}")
        elif ctype == ARROW_STREAM_CONTENT_TYPE:
            return meta, pa.ipc.open_stream(
                io.BufferedReader(_EventPayloadReader(events))
            )
    raise ValueError("no Arrow stream part in multipart response")
