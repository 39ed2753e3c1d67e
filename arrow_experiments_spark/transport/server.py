"""Arrow-over-HTTP egress service (SURVEY.md §2.3 / §3.1-3.2).

Endpoints (the union of the reference's protocol patterns):
  GET  /datasets/{name}               Arrow IPC stream, negotiated
                                      compression, chunked on HTTP/1.1
                                      (get_simple + get_compressed)
  GET  /datasets/{name}?multipart=1   multipart/mixed: JSON meta + Arrow
                                      stream + footnotes (get_multipart)
  GET  /datasets/{name}?columns=a,b&limit=N&batch_rows=M
                                      serve-time projection + row slice +
                                      fixed-size re-chunking (drop_column /
                                      slice / rebatch at the egress
                                      boundary; 400 on unknown column)
  GET  /catalog                       {"arrow_stream_files": [{"uri":…}]}
                                      (get_indirect)
  GET  /files/{name}                  static .arrows artifact with
                                      Content-Length, Accept-Ranges and
                                      byte-range support (get_range)
  HEAD /files/{name}                  the artifact's length, no body
  POST /ingest/{name}                 Arrow IPC stream body, or a
                                      multipart/form-data JSON + Arrow form
                                      → registered dataset (post_simple,
                                      post_multipart; README-only in the
                                      reference, defined here)
  GET  /datasets/{name}/describe      JSON schema + endpoint URIs — the
                                      Flight GetFlightInfo analog
                                      (dissociated-ipc control plane,
                                      SURVEY.md §3.3)
  GET  /datasets/{name}/meta          dissociated metadata stream: seq-
                                      numbered Flatbuffer message metadata
                                      (SURVEY.md §2.5; transport/dissociated.py)
  GET  /datasets/{name}/body          dissociated body stream: tagged,
                                      8-byte-padded body buffers
  GET  /query?sql=...                 ad-hoc SQL through the engine's
                                      sql_runner (enabled by
                                      serve(sql_runner=...); Catalyst-
                                      planned when fronting Spark), same
                                      negotiated Arrow egress

The server is engine-agnostic: datasets are callables returning a
``pa.RecordBatchReader`` so it can front Spark DataFrames (see
sources/egress.py) or plain pyarrow data in tests.  Pre-materialize-once,
serve-many (reference server.py:552-555) is the registry's caching default.

Every endpoint is answered by one transport-neutral :func:`handle`, which
returns a :class:`Response` (status, headers, chunks).  The two server
forms are adapters that add only framing: :class:`ArrowHttpHandler`
(threaded, ``serve``) and ``transport/asgi.py`` (ASGI, ``make_asgi_app``).
Dataset names in paths are percent-decoded by the adapter, and every URI
the service emits percent-quotes them.
"""

from __future__ import annotations

import json
import re
import threading
from collections.abc import Callable, Iterable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import NamedTuple
from urllib.parse import quote, unquote, unquote_plus

import pyarrow as pa

from arrow_experiments_spark.transport import multipart
from arrow_experiments_spark.transport.ipc_stream import (
    decode_body,
    encode_ipc_chunks,
    write_chunked,
)
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

AVAILABLE_IPC_CODECS = ["zstd", "lz4"]
AVAILABLE_CODINGS = ["zstd", "br", "gzip"]

ReaderFactory = Callable[[], pa.RecordBatchReader]


def project_reader(
    reader: pa.RecordBatchReader,
    columns: list[str] | None = None,
    limit: int | None = None,
) -> pa.RecordBatchReader:
    """Egress-boundary projection + slice: select ``columns`` and stop
    after ``limit`` rows, streaming batch-by-batch (the reference's
    drop_column and slice ops applied at serve time; SURVEY.md §4 notes
    Accept-driven projection is a ``select``, never a planner rule).
    Raises KeyError on an unknown column, ValueError on a negative limit."""
    schema = reader.schema
    if columns is not None:
        missing = [c for c in columns if schema.get_field_index(c) < 0]
        if missing:
            raise KeyError(f"unknown column(s): {', '.join(missing)}")
        schema = pa.schema(
            [schema.field(c) for c in columns], metadata=schema.metadata
        )
    if limit is not None and limit < 0:
        raise ValueError("limit must be >= 0")

    def gen():
        remaining = limit
        for batch in reader:
            if remaining is not None and remaining <= 0:
                break
            if columns is not None:
                batch = batch.select(columns)
            if remaining is not None:
                if batch.num_rows > remaining:
                    batch = batch.slice(0, remaining)
                remaining -= batch.num_rows
            yield batch

    return pa.RecordBatchReader.from_batches(schema, gen())


def rebatch_iter(batches, n: int):
    """Re-chunk an iterable of record batches to fixed ``n``-row batches
    — the ONE rebatch implementation, shared by :func:`rebatch_reader`
    (serve boundary) and the executor-side spill writer
    (sources/arrow_ipc.py spill_dataframe).  Streams with O(n) memory:
    buffered rows never exceed one incoming batch + n."""
    buf: pa.Table | None = None
    for batch in batches:
        # fast path: stream already batched at n (the common case when
        # the spill writer and the serve boundary agree) — zero-copy
        if (buf is None or buf.num_rows == 0) and batch.num_rows == n:
            yield batch
            continue
        t = pa.Table.from_batches([batch])
        buf = t if buf is None else pa.concat_tables([buf, t])
        while buf.num_rows >= n:
            head = buf.slice(0, n).combine_chunks()
            yield from head.to_batches(max_chunksize=n)
            buf = buf.slice(n)
    if buf is not None and buf.num_rows:
        yield from buf.combine_chunks().to_batches(max_chunksize=n)


def rebatch_reader(reader: pa.RecordBatchReader, n: int) -> pa.RecordBatchReader:
    """Re-chunk a stream to fixed ``n``-row batches (the reference's
    rebatch op: arrow-commits.R:48-55 re-batches to 1024 rows before
    writing; servers pick 4096/6144).  Raises ValueError if ``n <= 0``."""
    if n <= 0:
        raise ValueError("batch_rows must be >= 1")
    return pa.RecordBatchReader.from_batches(reader.schema, rebatch_iter(reader, n))


class DatasetRegistry:
    """name → RecordBatchReader factory (+ optional metadata dict)."""

    # pre-materialized tables up to this size also cache their serialized
    # identity IPC body (see identity_body) — beyond it, stream per request
    IDENTITY_CACHE_MAX_BYTES = 1 << 30

    def __init__(self) -> None:
        self._factories: dict[str, ReaderFactory] = {}
        self._meta: dict[str, dict] = {}
        self._schemas: dict[str, pa.Schema] = {}
        self._files: dict[str, bytes] = {}
        self._tables: dict[str, pa.Table] = {}
        self._bodies: dict[str, pa.Buffer] = {}
        self._coded_bodies: dict[tuple[str, str], bytes] = {}
        self._raw: dict[str, Callable[[], "Iterable[bytes]"]] = {}
        self._artifacts: dict[str, str] = {}  # name -> encoded-cache dir
        self._lock = threading.Lock()

    def register(
        self,
        name: str,
        factory: ReaderFactory,
        meta: dict | None = None,
        schema: pa.Schema | None = None,
    ) -> None:
        """``schema`` lets /describe answer without invoking the factory —
        essential when the factory runs a full Spark job (a lazy query
        dataset must not execute just to report its columns)."""
        with self._lock:
            self._factories[name] = factory
            self._meta[name] = meta or {}
            if schema is not None:
                self._schemas[name] = schema
            else:
                self._schemas.pop(name, None)
            # re-registration (e.g. POST /ingest over an existing name)
            # must not keep serving the previous table's cached bytes
            self._tables.pop(name, None)
            self._bodies.pop(name, None)
            for k in [k for k in self._coded_bodies if k[0] == name]:
                self._coded_bodies.pop(k, None)
            self._raw.pop(name, None)
            artifact_dir = self._artifacts.pop(name, None)
        if artifact_dir is not None:
            import shutil as _shutil

            _shutil.rmtree(artifact_dir, ignore_errors=True)

    def register_table(self, name: str, table: pa.Table, meta: dict | None = None) -> None:
        def factory() -> pa.RecordBatchReader:
            return pa.RecordBatchReader.from_batches(table.schema, table.to_batches())

        self.register(name, factory, meta, schema=table.schema)
        with self._lock:
            self._tables[name] = table

    def identity_body(self, name: str) -> memoryview | None:
        """Serialized identity IPC stream for a pre-materialized table,
        built once and shared by every request — the reference's
        serve-many replay model (get_simple server.py:144) taken to its
        conclusion for the uncompressed case: concurrent handler threads
        write zero-copy slices of one immutable buffer (sendall releases
        the GIL), instead of each re-running the Python writer loop.
        None for factory datasets, oversized tables, or any request that
        projects/rebatches/compresses — those stream per request."""
        with self._lock:
            body = self._bodies.get(name)
            if body is not None:
                return memoryview(body)
            table = self._tables.get(name)
        if table is None or table.nbytes > self.IDENTITY_CACHE_MAX_BYTES:
            return None
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            for batch in table.to_batches():
                writer.write_batch(batch)
        body = sink.getvalue()
        with self._lock:
            self._bodies.setdefault(name, body)
        return memoryview(body)

    SLICE_BYTES = 1 << 20

    @classmethod
    def _slices(cls, body: memoryview):
        """1 MiB zero-copy slices of a cached body."""
        step = cls.SLICE_BYTES
        return (body[i : i + step] for i in range(0, len(body), step))

    # Compress-once replay for pre-materialized tables: the identity body
    # is already cached whole, so each pure content coding's twin is
    # compressed ONCE and replayed — the identity-body serve-many model
    # extended to negotiated codings (what gzip_static / a CDN variant
    # cache does).  Encoder choices are the measured knees: brotli one-shot
    # level 2 matches the streaming default's ratio at ~1/34 the CPU
    # (0.593 vs 0.586 on a 19 MiB body, 0.13 s vs 4.4 s — and the
    # streaming CompressedOutputStream has no level knob at all); gzip
    # uses the same level-4 knee the streaming path does; zstd its
    # pyarrow default.
    BR_CACHE_LEVEL = 2
    CACHED_CODINGS = ("br", "gzip", "zstd")

    def encoded_body(self, name: str, coding: str) -> memoryview | None:
        """Cached ``coding``-compressed body of a pre-materialized table,
        or None (same eligibility as identity_body; compressed once,
        shared by every request)."""
        if coding not in self.CACHED_CODINGS:
            return None
        key = (name, coding)
        with self._lock:
            body = self._coded_bodies.get(key)
        if body is not None:
            return memoryview(body)
        identity = self.identity_body(name)
        if identity is None:
            return None
        if coding == "br":
            body = pa.Codec(
                "brotli", compression_level=self.BR_CACHE_LEVEL
            ).compress(identity, asbytes=True)
        elif coding == "gzip":
            import gzip as _gzip

            from arrow_experiments_spark.transport.ipc_stream import GZIP_LEVEL

            body = _gzip.compress(bytes(identity), compresslevel=GZIP_LEVEL)
        else:
            body = pa.Codec("zstd").compress(identity, asbytes=True)
        with self._lock:
            body = self._coded_bodies.setdefault(key, body)
        return memoryview(body)

    # IPC buffer-compressed twins (identity+zstd / identity+lz4): the
    # encoded stream is deterministic per (table, codec) — self-describing
    # record-batch buffer compression, no per-request state — so it has
    # exactly the cacheability of the HTTP codings above (r8 verdict #2:
    # these were the two strategies the compress-once cache did NOT cover,
    # and the only per-request encodes left on pre-materialized serves).
    CACHED_IPC_CODECS = ("zstd", "lz4")

    def ipc_codec_body(self, name: str, codec: str) -> memoryview | None:
        """Cached IPC-buffer-compressed stream body of a pre-materialized
        table, or None (same eligibility as identity_body; encoded once,
        shared by every request)."""
        if codec not in self.CACHED_IPC_CODECS:
            return None
        key = (name, f"ipc+{codec}")
        with self._lock:
            body = self._coded_bodies.get(key)
            if body is not None:
                return memoryview(body)
            table = self._tables.get(name)
        if table is None or table.nbytes > self.IDENTITY_CACHE_MAX_BYTES:
            return None
        sink = pa.BufferOutputStream()
        opts = pa.ipc.IpcWriteOptions(compression=codec)
        with pa.ipc.new_stream(sink, table.schema, options=opts) as writer:
            for batch in table.to_batches():
                writer.write_batch(batch)
        body = sink.getvalue()
        with self._lock:
            body = self._coded_bodies.setdefault(key, body)
        return memoryview(body)

    def register_raw(self, name: str, raw_factory: Callable[[], Iterable[bytes]]) -> None:
        """Supplement an existing dataset with a pre-encoded identity-IPC
        byte source (e.g. mmap'd spill artifacts spliced into one stream —
        sources/arrow_ipc.py raw_spill_stream).  Plain uncompressed GETs
        then stream these bytes zero-copy instead of re-running the
        per-batch IPC writer loop; every other request shape (projection,
        rebatch, compression, multipart, dissociated) still goes through
        the batch-reader factory.  Call AFTER register() — re-registering
        the name drops the raw source."""
        with self._lock:
            if name not in self._factories:
                raise KeyError(f"register() {name!r} before register_raw()")
            self._raw[name] = raw_factory

    def identity_stream(self, name: str):
        """Zero-copy identity-IPC byte chunks for a plain request, or
        None: the cached in-memory body for pre-materialized tables, else
        a registered raw (file-backed) source: the identity case of
        :meth:`replay`."""
        body = self.identity_body(name)
        if body is not None:
            return self._slices(body)
        factory = self._raw.get(name)
        return factory() if factory is not None else None

    def register_file(self, name: str, data: bytes) -> None:
        """Static .arrows artifact served with range support."""
        with self._lock:
            self._files[name] = data

    # ---- encoded-artifact replay (disk-backed encode-once) ---------------
    #
    # The compress-once caches above hold bodies in memory and only for
    # pre-materialized tables under the cap.  Factory datasets at spill
    # scale (the 42M trading serve: ~1 GB dict-encoded + zstd) get the
    # DISK seat of the same pattern: the first request's encoded bytes
    # tee to a cache file (atomic rename on completion), every later
    # request replays the file — nginx's gzip_static, or the reference's
    # pre-materialize-then-replay model applied to the encoded form.
    # OPT-IN ONLY: a factory may be non-deterministic (live query, stream
    # snapshot), so nothing is cached unless the caller asserts
    # determinism via enable_encoded_artifact().

    def enable_encoded_artifact(self, name: str, cache_dir: str | None = None) -> str:
        """Opt ``name`` into encoded-artifact replay; the caller asserts
        the factory's encoded output is deterministic.  Returns the cache
        dir (caller-owned when passed, else a per-registry tempdir the
        caller may remove).  Call AFTER register()."""
        import os
        import tempfile

        with self._lock:
            if name not in self._factories:
                raise KeyError(f"register() {name!r} before enabling artifacts")
            if cache_dir is None:
                cache_dir = tempfile.mkdtemp(prefix=f"aes_artifact_{name}_")
            else:
                os.makedirs(cache_dir, exist_ok=True)
            self._artifacts[name] = cache_dir
        return cache_dir

    def _artifact_path(self, name: str, strategy: str) -> str | None:
        import os
        import re as _re

        d = self._artifacts.get(name)
        if d is None:
            return None
        return os.path.join(d, _re.sub(r"[^A-Za-z0-9+_-]", "_", strategy) + ".bin")

    def encoded_artifact_stream(self, name: str, strategy: str):
        """mmap'd 1 MiB slices of a completed encoded artifact, or None."""
        import mmap
        import os

        path = self._artifact_path(name, strategy)
        if path is None or not os.path.exists(path):
            return None

        def slices():
            with open(path, "rb") as fh:
                size = os.fstat(fh.fileno()).st_size
                if size == 0:
                    return
                with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                    step = self.SLICE_BYTES
                    for i in range(0, size, step):
                        yield mm[i : i + step]

        return slices()

    def tee_encoded(self, name: str, strategy: str, chunks):
        """Pass ``chunks`` through while writing them to the artifact
        cache; the file lands atomically only when the stream completes
        (a broken/aborted encode leaves no artifact).  No-op passthrough
        for datasets not opted in."""
        import os
        import uuid

        path = self._artifact_path(name, strategy)
        if path is None:
            return chunks

        def tee():
            tmp = f"{path}.tmp{uuid.uuid4().hex[:8]}"
            ok = False
            try:
                with open(tmp, "wb") as fh:
                    for chunk in chunks:
                        fh.write(chunk)
                        yield chunk
                ok = True
            finally:
                if ok:
                    os.replace(tmp, path)
                else:
                    try:
                        os.unlink(tmp)
                    except OSError:
                        pass

        return tee()

    def replay(self, name: str, strategy: str):
        """The cached chunks of a plain ``GET /datasets/{name}`` under
        ``strategy``, or None when it must be encoded: the identity body,
        else the raw source (identity); the compress-once HTTP coding; the
        encode-once IPC-codec twin; else a completed disk artifact (any
        non-identity strategy)."""
        if strategy == "identity":
            return self.identity_stream(name)
        body = None
        if strategy in self.CACHED_CODINGS:
            body = self.encoded_body(name, strategy)
        elif strategy.startswith("identity+"):
            body = self.ipc_codec_body(name, strategy[len("identity+") :])
        if body is not None:
            return self._slices(body)
        return self.encoded_artifact_stream(name, strategy)

    def reader(self, name: str) -> pa.RecordBatchReader | None:
        factory = self._factories.get(name)
        return factory() if factory else None

    def schema(self, name: str) -> pa.Schema | None:
        """Schema without side effects where known; falls back to opening
        the reader (which may execute the underlying query)."""
        if name in self._schemas:
            return self._schemas[name]
        reader = self.reader(name)
        return reader.schema if reader is not None else None

    def meta(self, name: str) -> dict:
        return self._meta.get(name, {})

    def names(self) -> list[str]:
        return sorted(self._factories)

    def file(self, name: str) -> bytes | None:
        return self._files.get(name)

    def file_names(self) -> list[str]:
        return sorted(self._files)


_RANGE_RE = re.compile(r"bytes=(\d*)-(\d*)$")


def resolve_range(header: str, total: int) -> tuple[int, int] | None:
    """Parse a single-range ``Range`` header against a ``total``-byte body.
    Returns (start, end) inclusive, or None for an unsatisfiable/malformed
    range (caller answers 416 with ``Content-Range: bytes */total``).
    Shared by the threaded and ASGI server forms."""
    m = _RANGE_RE.match(header.strip())
    if not m:
        return None
    start_s, end_s = m.groups()
    if start_s:
        start = int(start_s)
        end = int(end_s) if end_s else total - 1
    else:  # suffix range: last N bytes
        start = max(total - int(end_s), 0)
        end = total - 1
    end = min(end, total - 1)
    if start > end or start >= total:
        return None
    return start, end


def decode_ingest(
    body: bytes, content_type: str, content_encoding: str
) -> tuple[dict, pa.Table]:
    """Decode a ``POST /ingest`` body into (metadata, table); both server
    forms call this.

    ``multipart/form-data`` (post_multipart, reference
    http/post_multipart/README.md:22) carries a JSON metadata part and an
    Arrow IPC stream part; any other body IS the (optionally content-coded)
    Arrow IPC stream (post_simple).  The layer functions are looked up on
    their modules at call time, so a wrapper installed there sees every
    call.  Raises ValueError (or an Arrow error) on a malformed body."""
    if not content_type.lower().startswith("multipart/form-data"):
        return {}, decode_body(body, content_encoding).read_all()
    parts = multipart.parse_multipart(body, content_type)
    meta: dict = {}
    if "application/json" in parts:
        meta = json.loads(parts["application/json"][0])
        if not isinstance(meta, dict):
            raise ValueError("metadata part must be a JSON object")
    return meta, multipart.read_arrow_part(parts)


# ---- the protocol core -----------------------------------------------------


class Response(NamedTuple):
    """One transport-neutral HTTP response.  ``chunks`` are bytes or
    zero-copy memoryview slices; a body of known size carries
    ``Content-Length``, any other is streamed and framed by the server
    form."""

    status: int
    headers: list[tuple[str, str]]
    chunks: Iterable = ()


_CORS_HEADERS = (
    ("Access-Control-Allow-Origin", "*"),
    ("Access-Control-Allow-Methods", "GET, POST"),
    ("Access-Control-Allow-Headers", "Content-Type"),
)


def _with_cors(resp: Response, cors: bool) -> Response:
    if cors:
        resp.headers.extend(_CORS_HEADERS)
    return resp


def _sized(status: int, content_type: str, body: bytes) -> Response:
    headers = [("Content-Type", content_type), ("Content-Length", str(len(body)))]
    return Response(status, headers, [body])


def _json(obj, status: int = 200) -> Response:
    return _sized(status, "application/json", json.dumps(obj).encode())


def _not_found() -> Response:
    return Response(404, [("Content-Length", "0")])


def handle(
    registry: DatasetRegistry,
    method: str,
    path: str,
    query: str,
    headers,
    body: bytes = b"",
    *,
    http_version: str = "1.1",
    cors: bool = False,
    sql_runner=None,
) -> Response:
    """Answer one request: routing, negotiation and payload of every
    endpoint, behind both server forms (:class:`ArrowHttpHandler` and
    transport/asgi.py), which add only framing.

    ``path`` is percent-decoded and ``query`` raw; ``headers`` needs only a
    case-insensitive ``get``; ``http_version`` is the request's ("1.0",
    "1.1", "2").  With ``cors`` every response carries the
    ``Access-Control-*`` headers.  Layer functions (``encode_ipc_chunks``,
    ``decode_body``) are module globals looked up at call time, so a
    wrapper installed on this module sees every call."""
    params = dict(p.split("=", 1) if "=" in p else (p, "1") for p in query.split("&") if p)
    try:
        resp = _route(registry, method, path, params, headers, body, http_version, sql_runner)
    except NotAcceptable as e:
        resp = _not_acceptable(str(e), headers)
    return _with_cors(resp, cors)


def _route(registry, method, path, params, headers, body, http_version, sql_runner) -> Response:
    if method == "POST" and path.startswith("/ingest/"):
        return _post_ingest(registry, path[len("/ingest/") :], headers, body)
    if method in ("GET", "HEAD") and path.startswith("/files/"):
        return _get_file(registry, path[len("/files/") :], headers, head=method == "HEAD")
    if method != "GET":
        return _not_found()
    if path == "/query":
        return _get_query(sql_runner, params, headers, http_version)
    if path == "/catalog":
        return _get_catalog(registry, headers)
    if path.startswith("/datasets/") and path.endswith("/describe"):
        return _get_describe(registry, path[len("/datasets/") : -len("/describe")], headers)
    if path.startswith("/datasets/") and path.endswith(("/meta", "/body")):
        name, _, which = path[len("/datasets/") :].rpartition("/")
        return _get_dissociated(registry, name, which, params)
    if path.startswith("/datasets/"):
        return _get_dataset(registry, path[len("/datasets/") :], params, headers, http_version)
    return _not_found()


def _negotiate(headers, http_version: str) -> str:
    """The request's one strategy choice.  Raises NotAcceptable, which
    :func:`handle` answers with 406."""
    default = "identity" if http_version == "1.0" else "gzip"
    strategy = choose_strategy(headers, AVAILABLE_IPC_CODECS, AVAILABLE_CODINGS, default)
    if strategy is None:
        raise NotAcceptable("no available coding is acceptable")
    return strategy


def _not_acceptable(why: str, headers) -> Response:
    msg = f"Not Acceptable: {why}\n"
    for h in ("Accept", "Accept-Encoding"):
        v = headers.get(h)
        if v is not None:
            msg += f"`{h}` header was {v!r}.\n"
    return _sized(406, "text/plain", msg.encode())


def _arrow_stream(strategy: str, chunks) -> Response:
    ctype = ARROW_STREAM_CONTENT_TYPE
    headers = [("Content-Disposition", 'attachment; filename="output.arrows"')]
    if strategy.startswith("identity+"):
        # the compression is inside the IPC stream, declared by the codecs
        # content-type parameter, so there is no Content-Encoding
        ctype += f"; codecs={strategy[len('identity+') :]}"
    elif strategy != "identity":
        headers.append(("Content-Encoding", strategy))
    return Response(200, [("Content-Type", ctype), *headers], chunks)


def _get_dataset(registry, name, params, headers, http_version) -> Response:
    reader = registry.reader(name)
    if reader is None:
        return _not_found()
    # ?columns=a,b&limit=N&batch_rows=M — serve-time projection, slice,
    # and re-chunking (applies to both plain-stream and multipart paths)
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
        meta = {"name": name, **registry.meta(name)}
        return Response(
            200,
            [("Content-Type", multipart_content_type(boundary))],
            encode_multipart(boundary, meta, reader.schema, reader),
        )

    strategy = _negotiate(headers, http_version)
    plain = not any(k in params for k in ("columns", "limit", "batch_rows", "multipart"))
    chunks = registry.replay(name, strategy) if plain else None
    if chunks is None:
        chunks = encode_ipc_chunks(reader.schema, reader, strategy)
        if plain and strategy != "identity":
            # fills the disk artifact of an opted-in dataset (see
            # enable_encoded_artifact); a passthrough for any other
            chunks = registry.tee_encoded(name, strategy, chunks)
    return _arrow_stream(strategy, chunks)


def _get_query(sql_runner, params, headers, http_version) -> Response:
    """Ad-hoc SQL entry point (SURVEY.md §7 Phase 1): ``GET
    /query?sql=...`` plans the statement through the engine's
    ``sql_runner`` (Catalyst, when the server fronts a SparkSession) and
    streams the result with the same negotiated Arrow egress as any
    dataset.  404 when the server was started without a runner; 400 with
    the planner's message on bad SQL."""
    if sql_runner is None:
        return _not_found()
    sql = unquote_plus(params.get("sql", "")).strip()
    if not sql:
        return _json({"error": "missing sql parameter"}, status=400)
    try:
        reader = sql_runner(sql)
    except Exception as e:  # noqa: BLE001 — planner errors → 400
        return _json({"error": str(e).split("\n")[0][:500]}, status=400)
    strategy = _negotiate(headers, http_version)
    return _arrow_stream(strategy, encode_ipc_chunks(reader.schema, reader, strategy))


def _get_catalog(registry, headers) -> Response:
    host = headers.get("Host", "localhost")
    return _json(
        {
            "arrow_stream_files": [
                {"uri": f"http://{host}/files/{quote(n, safe='')}"}
                for n in registry.file_names()
            ]
            + [
                {"uri": f"http://{host}/datasets/{quote(n, safe='')}"}
                for n in registry.names()
            ]
        }
    )


def _get_describe(registry, name, headers) -> Response:
    schema = registry.schema(name)
    if schema is None:
        return _not_found()
    uri = f"http://{headers.get('Host', 'localhost')}/datasets/{quote(name, safe='')}"
    want_data = f"want_data={quote(name, safe='')}"
    return _json(
        {
            "name": name,
            "schema": [
                {"name": f.name, "type": str(f.type), "nullable": f.nullable}
                for f in schema
            ],
            # FlightInfo carries one endpoint with *two* locations (ctrl
            # + data URI) — cudf-flight-server.cc:349-371; ours are the
            # single-stream URI plus the dissociated meta/body pair.
            # the meta/body URIs carry the want_data ident the client
            # must echo — the handshake of the dissociated protocol
            # (client sends the ident, server probes it to pick its
            # stream role: cudf-flight-server.cc:115-135, client :66-74)
            "endpoints": [
                {"uri": uri},
                {
                    "meta_uri": f"{uri}/meta?{want_data}",
                    "body_uri": f"{uri}/body?{want_data}",
                },
            ],
            "metadata": registry.meta(name),
            # serve-time query params the dataset endpoint accepts
            "params": ["columns", "limit", "batch_rows", "multipart"],
        }
    )


def _get_dissociated(registry, name, which, params) -> Response:
    from arrow_experiments_spark.transport.dissociated import (
        encode_body_stream,
        encode_meta_stream,
    )

    reader = registry.reader(name)
    if reader is None:
        return _not_found()
    # want_data handshake: the client must echo the dataset ident from
    # the describe endpoint before either stream is served (the
    # reference's tag probe, cudf-flight-server.cc:115-135).
    want = unquote(params["want_data"]) if "want_data" in params else None
    if want != name:
        return _json(
            {"error": "want_data handshake required", "expected": name, "got": want},
            status=400,
        )
    encode = encode_meta_stream if which == "meta" else encode_body_stream
    return Response(200, [("Content-Type", "application/octet-stream")], encode(reader))


def _get_file(registry, name, headers, head: bool) -> Response:
    data = registry.file(name)
    if data is None:
        return _not_found()
    total = len(data)
    resp_headers = [("Content-Type", ARROW_STREAM_CONTENT_TYPE), ("Accept-Ranges", "bytes")]
    rng = headers.get("Range")
    if rng and not head:
        resolved = resolve_range(rng, total)
        if resolved is None:
            return Response(416, [("Content-Range", f"bytes */{total}"), ("Content-Length", "0")])
        start, end = resolved
        resp_headers += [
            ("Content-Range", f"bytes {start}-{end}/{total}"),
            ("Content-Length", str(end + 1 - start)),
        ]
        return Response(206, resp_headers, [memoryview(data)[start : end + 1]])
    resp_headers.append(("Content-Length", str(total)))
    return Response(200, resp_headers, [] if head else [memoryview(data)])


def _post_ingest(registry, name, headers, body) -> Response:
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
        {"name": name, "rows": tbl.num_rows, "columns": tbl.num_columns, "metadata": meta}
    )


# ---- the threaded form ------------------------------------------------------


class ArrowHttpHandler(BaseHTTPRequestHandler):
    """Reads a request, answers it with :func:`handle` and frames the
    response.  Each connection carries one response: ``parse_request``
    decides to close it under the class's HTTP/1.0 ``protocol_version``,
    which :meth:`_send` raises for the status line only afterwards, and
    every response says ``Connection: close``."""

    registry: DatasetRegistry  # set by serve()
    enable_cors: bool = False
    # optional ad-hoc SQL entry point: str -> RecordBatchReader (set by
    # serve(sql_runner=...); None disables GET /query)
    sql_runner = None

    def _send(self, resp: Response) -> None:
        http10 = self.request_version == "HTTP/1.0"
        self.protocol_version = "HTTP/1.0" if http10 else "HTTP/1.1"
        self.send_response(resp.status)
        # said on every response, so that a keep-alive client reconnects
        # instead of writing its next request to a closed socket
        self.send_header("Connection", "close")
        for k, v in resp.headers:
            self.send_header(k, v)
        if not http10 and all(k != "Content-Length" for k, _ in resp.headers):
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            write_chunked(self.wfile, resp.chunks)
            return
        # a sized body, or an HTTP/1.0 one that runs to the close
        self.end_headers()
        for chunk in resp.chunks:
            self.wfile.write(chunk)

    def _handle(self, body: bytes = b"") -> None:
        path, _, query = self.path.partition("?")
        self._send(
            handle(
                self.registry,
                self.command,
                unquote(path),
                query,
                self.headers,
                body,
                http_version=self.request_version.removeprefix("HTTP/"),
                cors=self.enable_cors,
                sql_runner=self.sql_runner,
            )
        )

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        self._handle()

    def do_HEAD(self) -> None:  # noqa: N802
        self._handle()

    def do_POST(self) -> None:  # noqa: N802
        length = self.headers.get("Content-Length")
        if length is None or not (length.isascii() and length.isdigit()):
            # the body's extent is unknown, so the connection cannot be
            # reused: whatever follows is not a request line
            self.close_connection = True
            if length is None:
                resp = _json({"error": "Content-Length required"}, status=411)
            else:
                resp = _json({"error": f"bad Content-Length: {length!r}"}, status=400)
            self._send(_with_cors(resp, self.enable_cors))
            return
        self._handle(self.rfile.read(int(length)))

    def log_message(self, fmt: str, *args) -> None:  # quiet by default
        pass


def serve(
    registry: DatasetRegistry,
    host: str = "127.0.0.1",
    port: int = 0,
    cors: bool = False,
    sql_runner=None,
) -> ThreadingHTTPServer:
    """Start the server on a background thread; returns the server object
    (``server_address`` carries the bound port when port=0).  With
    ``sql_runner`` (str -> RecordBatchReader) the server also answers
    ``GET /query?sql=...``."""
    handler = type(
        "BoundArrowHttpHandler",
        (ArrowHttpHandler,),
        {"registry": registry, "enable_cors": cors, "sql_runner": staticmethod(sql_runner) if sql_runner else None},
    )
    httpd = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd
