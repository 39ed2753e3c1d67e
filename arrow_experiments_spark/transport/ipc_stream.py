"""Incremental Arrow IPC stream encoding for HTTP egress.

Reproduces the reference's egress pipeline semantics (SURVEY.md §2.3
``ipc_stream_write_incremental`` / ``chunk_coalesce`` /
``http_compress_body`` / ``ipc_buffer_compress``) with a fresh
implementation:

  * one persistent RecordBatchStreamWriter over a reusable in-memory
    buffer — bytes are drained and yielded after each batch, the final
    drain carries the EOS marker;
  * chunks are coalesced to >= ``min_chunk`` bytes (64 KiB, matching the
    reference's MIN_BUFFER_SIZE floor) — except the very first compressed
    chunk, which is force-flushed for time-to-first-byte;
  * strategy ``identity`` → plain IPC; ``identity+zstd``/``identity+lz4``
    → self-describing IPC buffer compression (IpcWriteOptions); any other
    coding → whole-body compression — ``gzip`` via the stdlib at level
    ``GZIP_LEVEL`` (pyarrow's CompressedOutputStream has no level control
    and its default costs ~4.7× the encode time of level 4 for ~4% body
    size on the dict-encoded trading serve — nginx-style server levels
    are the standard tradeoff), ``br`` via ``pa.CompressedOutputStream``
    (spelled ``brotli`` for Arrow; no stdlib brotli to control).
"""

from __future__ import annotations

import io
from collections.abc import Iterable, Iterator

import pyarrow as pa

MIN_CHUNK_BYTES = 64 * 1024
MAX_WRITE_BYTES = 2**31 - 1  # keep single writes << 2 GiB (reference guard)
# Server-side gzip level: 4 is the measured knee on Arrow IPC bodies
# (level 6/pyarrow-default ≈ same ratio for ~5× the CPU; level 1 saves
# little more time for a visibly worse ratio).  Output is standard gzip
# at any level — clients are unaffected.
GZIP_LEVEL = 4


class _KeepOpenBuffer(io.BytesIO):
    """BytesIO whose close() is deferred so Arrow writers wrapping it can't
    tear it down while we still need to drain bytes."""

    def close(self) -> None:  # called by writer teardown — ignore
        pass

    def really_close(self) -> None:
        super().close()

    def drain(self) -> bytes:
        """Return accumulated bytes and reset to empty."""
        data = self.getvalue()[: self.tell()]
        self.seek(0)
        self.truncate()
        return data


def _ipc_options(strategy: str) -> pa.ipc.IpcWriteOptions | None:
    if strategy == "identity+zstd":
        return pa.ipc.IpcWriteOptions(compression="zstd")
    if strategy == "identity+lz4":
        return pa.ipc.IpcWriteOptions(compression="lz4")
    return None


def _ipc_segments(
    schema: pa.Schema, batches: Iterable[pa.RecordBatch], seg_bytes: int
) -> Iterator[bytes]:
    """Uncompressed IPC stream bytes in >= ``seg_bytes`` segments; the
    first segment is the first batch alone (time-to-first-byte)."""
    sink = _KeepOpenBuffer()
    try:
        writer = pa.ipc.new_stream(sink, schema)
        first = True
        for batch in batches:
            writer.write_batch(batch)
            if first or sink.tell() >= seg_bytes:
                data = sink.drain()
                if data:
                    yield data
                    first = False
        writer.close()  # EOS marker
        tail = sink.drain()
        if tail:
            yield tail
    finally:
        sink.really_close()


# zstd frames are self-delimiting and a body of concatenated frames is a
# valid zstd stream (RFC 8878 §3), so segments can compress INDEPENDENTLY
# — across threads — and ship in order.  gzip is multi-member-legal too
# but common HTTP clients stop at the first member, and brotli has no
# concatenation rule at all, so only zstd takes this path.
_PARALLEL_CODINGS = {"zstd"}
_COMPRESS_WORKERS = 4
_SEG_BYTES = 1 << 20


def _encode_parallel_frames(
    schema: pa.Schema,
    batches: Iterable[pa.RecordBatch],
    strategy: str,
    workers: int = _COMPRESS_WORKERS,
    seg_bytes: int = _SEG_BYTES,
) -> Iterator[bytes]:
    """Compress ~1 MiB IPC segments as independent frames on a thread
    pool (pyarrow codecs release the GIL), yielding in order with a
    bounded in-flight window — O(workers x segment) memory.  Measured
    against the single-threaded CompressedOutputStream path on the 42M-row
    trading serve; the decode side is unchanged (stream decoders consume
    concatenated frames natively)."""
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    codec = pa.Codec(strategy)
    with ThreadPoolExecutor(workers) as pool:
        pending: deque = deque()
        first = True
        for seg in _ipc_segments(schema, batches, seg_bytes):
            pending.append(pool.submit(codec.compress, seg, asbytes=True))
            if first:
                # eager first chunk for time-to-first-byte, the reference's
                # force-flush semantic (get_compressed server.py:384-430)
                yield pending.popleft().result()
                first = False
                continue
            while len(pending) > 2 * workers:
                yield pending.popleft().result()
        while pending:
            yield pending.popleft().result()


def encode_ipc_chunks(
    schema: pa.Schema,
    batches: Iterable[pa.RecordBatch],
    strategy: str = "identity",
    min_chunk: int = MIN_CHUNK_BYTES,
) -> Iterator[bytes]:
    """Yield HTTP-body chunks of an Arrow IPC stream under ``strategy``."""
    if strategy in _PARALLEL_CODINGS:
        yield from _encode_parallel_frames(schema, batches, strategy)
        return
    sink = _KeepOpenBuffer()
    try:
        if strategy.startswith("identity"):
            writer = pa.ipc.new_stream(sink, schema, options=_ipc_options(strategy))
            for batch in batches:
                writer.write_batch(batch)
                if sink.tell() >= min_chunk:
                    yield sink.drain()
            writer.close()  # EOS marker
        else:
            if strategy == "gzip":
                import gzip as _gzip

                # GzipFile(fileobj=...) leaves ``sink`` open on close and
                # flush() is a zlib sync-flush — both exactly the
                # semantics the eager-first-chunk logic below needs.
                compressor = _gzip.GzipFile(
                    fileobj=sink, mode="wb", compresslevel=GZIP_LEVEL
                )
            else:
                codec = "brotli" if strategy == "br" else strategy
                compressor = pa.CompressedOutputStream(sink, codec)
            # GzipFile emits its 10-byte member header at construction, so
            # "nothing flushed yet" is tell()==header_pos, not tell()==0
            # (ADVICE r7: comparing against 0 made the eager sync-flush
            # dead code on the gzip branch and the first chunk carried only
            # the bare header).
            header_pos = sink.tell()
            writer = pa.ipc.new_stream(compressor, schema)
            first_sent = False
            for batch in batches:
                writer.write_batch(batch)
                if not first_sent and sink.tell() == header_pos:
                    compressor.flush()  # push the first chunk out ASAP
                pos = sink.tell()
                if pos >= min_chunk or (not first_sent and pos > 0):
                    yield sink.drain()
                    first_sent = True
            writer.close()
            compressor.close()
        tail = sink.drain()
        if tail:
            yield tail
    finally:
        sink.really_close()


def decode_body(raw: io.IOBase | bytes, strategy: str) -> pa.ipc.RecordBatchStreamReader:
    """Client-side inverse: wrap a response body per strategy.

    IPC-codec strategies are transparent (the stream is self-describing);
    HTTP codings need a CompressedInputStream wrapper.  A ``bytes`` body is
    read in place (zero-copy): the decoded batches point into it.
    """
    if isinstance(raw, bytes):
        raw = pa.BufferReader(pa.py_buffer(raw))
    if strategy.startswith("identity") or strategy == "":
        return pa.ipc.open_stream(raw)
    codec = "brotli" if strategy == "br" else strategy
    return pa.ipc.open_stream(pa.CompressedInputStream(raw, codec))


def write_chunked(wfile, chunks: Iterable[bytes]) -> int:
    """HTTP/1.1 chunked transfer framing: ``{len:X}\\r\\n…\\r\\n`` per chunk,
    ``0\\r\\n\\r\\n`` terminator.  Returns total payload bytes."""
    total = 0
    for chunk in chunks:
        if not chunk:
            continue
        if len(chunk) > MAX_WRITE_BYTES:
            raise ValueError("chunk exceeds 2 GiB write guard")
        wfile.write(f"{len(chunk):X}\r\n".encode())
        wfile.write(chunk)
        wfile.write(b"\r\n")
        total += len(chunk)
    wfile.write(b"0\r\n\r\n")
    return total
