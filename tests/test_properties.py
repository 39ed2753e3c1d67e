"""Property-based tests (hypothesis) for the pure-Python protocol and
stream-shaping layers: the RFC-2616 header parser must never crash on
arbitrary input, negotiation must only ever pick offered codings, and
rebatch/projection must preserve content for any batch geometry.
"""

from __future__ import annotations

import io

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arrow_experiments_spark.transport.negotiation import (
    ARROW_STREAM_CONTENT_TYPE,
    NotAcceptable,
    choose_content_coding,
    parse_list_header,
)
from arrow_experiments_spark.transport.server import project_reader, rebatch_reader


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_parse_list_header_total(value):
    """Parser is total: any input either parses to a list of
    (token, params) tuples or raises the typed NotAcceptable error —
    never an unhandled exception."""
    try:
        out = parse_list_header("Accept-Encoding", value)
    except NotAcceptable:
        return
    assert isinstance(out, list)
    for token, params in out:
        assert isinstance(token, str)
        assert isinstance(params, dict)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.sampled_from(["gzip", "br", "zstd", "identity", "*"]).flatmap(
            lambda t: st.sampled_from(
                [t, f"{t};q=0", f"{t};q=0.5", f"{t};q=1", f"{t};q=0.001"]
            )
        ),
        min_size=0,
        max_size=5,
    )
)
def test_choose_coding_only_offers_available(parts):
    """Whatever the Accept-Encoding header, the chosen coding is either
    None (406 path) or a coding the server actually offers (identity is
    always offerable unless explicitly q=0)."""
    header = ", ".join(parts)
    available = ["zstd", "br", "gzip"]
    try:
        got = choose_content_coding(header, available)
    except NotAcceptable:
        return
    assert got is None or got in [*available, "identity"]


def _reader(table: pa.Table, chunk: int) -> pa.RecordBatchReader:
    batches = table.to_batches(max_chunksize=chunk) if table.num_rows else []
    return pa.RecordBatchReader.from_batches(table.schema, iter(batches))


@settings(max_examples=50, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=500),
    in_chunk=st.integers(min_value=1, max_value=97),
    out_chunk=st.integers(min_value=1, max_value=97),
)
def test_rebatch_preserves_content_any_geometry(n_rows, in_chunk, out_chunk):
    table = pa.table({"a": list(range(n_rows)), "s": [f"x{i}" for i in range(n_rows)]})
    out = rebatch_reader(_reader(table, in_chunk), out_chunk)
    got_batches = list(out)
    assert all(b.num_rows == out_chunk for b in got_batches[:-1])
    got = (
        pa.Table.from_batches(got_batches, schema=table.schema)
        if got_batches
        else table.schema.empty_table()
    )
    assert got.equals(table)


@settings(max_examples=50, deadline=None)
@given(
    n_rows=st.integers(min_value=0, max_value=300),
    in_chunk=st.integers(min_value=1, max_value=64),
    limit=st.integers(min_value=0, max_value=350),
)
def test_projection_limit_any_geometry(n_rows, in_chunk, limit):
    table = pa.table({"a": list(range(n_rows)), "b": list(range(n_rows))})
    out = project_reader(_reader(table, in_chunk), columns=["b"], limit=limit)
    got = out.read_all()
    assert got.column_names == ["b"]
    assert got.num_rows == min(limit, n_rows)
    assert got.column("b").to_pylist() == list(range(min(limit, n_rows)))


def test_project_reader_rejects_unknown_column():
    table = pa.table({"a": [1]})
    with pytest.raises(KeyError):
        project_reader(_reader(table, 1), columns=["zzz"])


@given(
    n_rows=st.integers(0, 3000),
    in_chunk=st.integers(1, 1000),
    out_chunk=st.integers(1, 1000),
)
@settings(max_examples=25, deadline=None)
def test_rebatch_sizes_exact_except_last(n_rows, in_chunk, out_chunk):
    """Every emitted batch is exactly out_chunk rows except the final
    remainder — regardless of input geometry (includes the zero-copy
    fast path when in_chunk == out_chunk)."""
    table = pa.table({"x": pa.array(range(n_rows), pa.int64())})
    sizes = [
        b.num_rows
        for b in rebatch_reader(_reader(table, in_chunk), out_chunk)
    ]
    assert sum(sizes) == n_rows
    if sizes:
        assert all(s == out_chunk for s in sizes[:-1])
        assert 1 <= sizes[-1] <= out_chunk


@given(
    n_rows=st.integers(1, 2000),
    chunk=st.integers(1, 700),
    meta=st.dictionaries(
        st.text(min_size=1, max_size=8), st.integers(-100, 100), max_size=4
    ),
)
@settings(max_examples=25, deadline=None)
def test_form_data_roundtrip_any_geometry(n_rows, chunk, meta):
    """post_multipart body: encode_form_data → stdlib MIME parse →
    metadata and Arrow part both intact, for any batch geometry and any
    JSON-object metadata."""
    import json

    from arrow_experiments_spark.transport.multipart import (
        encode_form_data,
        form_data_content_type,
        make_boundary,
        parse_multipart,
        read_arrow_part,
    )

    table = pa.table({"x": pa.array(range(n_rows), pa.int64())})
    boundary = make_boundary()
    body = b"".join(
        encode_form_data(boundary, meta, table.schema, table.to_batches(max_chunksize=chunk))
    )
    parts = parse_multipart(body, form_data_content_type(boundary))
    assert json.loads(parts["application/json"][0]) == meta
    assert read_arrow_part(parts).equals(table)


@given(n_rows=st.integers(0, 2000), chunk=st.integers(1, 700))
@settings(max_examples=25, deadline=None)
def test_dissociated_roundtrip_any_geometry(n_rows, chunk):
    """Split → reassemble is identity for any batch geometry, including
    the empty stream (schema-only)."""
    from arrow_experiments_spark.transport.dissociated import (
        encode_body_stream,
        encode_meta_stream,
        parse_body_stream,
        parse_meta_stream,
        reassemble,
    )

    table = pa.table({"x": pa.array(range(n_rows), pa.int64())})
    meta_raw = b"".join(encode_meta_stream(_reader(table, chunk)))
    body_raw = b"".join(encode_body_stream(_reader(table, chunk)))
    got = reassemble(parse_meta_stream(meta_raw), parse_body_stream(body_raw))
    assert got.equals(table)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**64 - 1), st.binary(max_size=64)),
        min_size=1,
        max_size=12,
    ),
    st.randoms(),
)
def test_socket_tag_matching_any_interleaving(frames, rnd):
    """For any set of tagged frames sent in any order, exact-tag probes
    claim each message exactly once with the right payload, regardless
    of the order the application probes in (UCX tag-matching semantics
    over the TCP frame stream)."""
    import socket as socket_mod

    from arrow_experiments_spark.transport.sockets import SocketConn

    a, b = socket_mod.socketpair()
    left, right = SocketConn(a), SocketConn(b)
    try:
        # make WIRE tags unique (mod 2**64 before dedup — offsetting first
        # could alias two keys onto one wire tag at the u64 boundary)
        uniq = {
            (tag + i) % (2**64): payload
            for i, (tag, payload) in enumerate(frames)
        }
        for tag, payload in uniq.items():
            left.send_tag(tag, payload)
        order = list(uniq.items())
        rnd.shuffle(order)
        for tag, payload in order:
            info, got = right.probe_tag_sync(
                tag, 0xFFFFFFFFFFFFFFFF, remove=True
            )
            assert got == payload
        assert not right._pending_tags
    finally:
        left.close()
        right.close()


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 400), st.integers(1, 64))
def test_fb_body_length_any_geometry(n_rows, chunk):
    """The flatbuffer bodyLength peek agrees with pyarrow for any batch
    geometry (incl. string columns whose body size varies per batch)."""
    import pyarrow.ipc as ipc

    from arrow_experiments_spark.transport.sockets import _fb_body_length

    t = pa.table(
        {
            "x": pa.array(range(n_rows), pa.int64()),
            "s": pa.array([("v" * (i % 7)) for i in range(n_rows)]),
        }
    )
    for batch in t.to_batches(max_chunksize=chunk):
        msg = ipc.read_message(batch.serialize())
        assert _fb_body_length(msg.metadata.to_pybytes()) == msg.body.size


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-2, max_value=2), min_size=3, max_size=3
        ).filter(lambda v: any(v)),
        min_size=1,
        max_size=8,
    ),
    st.data(),
)
def test_semantic_kernel_matches_literal_rule(vecs, data):
    """_cluster_semantic_pdf against the literal SemDeDup rule, O(m^2)
    loop: kept(v) iff no same-cluster u with cos(u,v) >= tau and
    (cos_centroid, vec_id) strictly lower.  Integer-grid vectors make
    duplicate vectors (exact cosine 1.0) and exactly-equal
    centroid-cosines reachable, pinning both tie-break paths the fixture
    corpus may never hit."""
    import math

    import numpy as np
    import pandas as pd

    from arrow_experiments_spark.operators.dedup import (
        _SEMDEDUP_SCALE,
        _SEMDEDUP_TAU,
        _cluster_semantic_pdf,
    )

    # hypothesis may duplicate list entries — ids must be distinct
    ids = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=50),
            min_size=len(vecs),
            max_size=len(vecs),
            unique=True,
        )
    )
    pdf = pd.DataFrame(
        {
            "vec_id": pd.Series(ids, dtype="int64"),
            "embedding": [np.array(v, dtype="float32") for v in vecs],
            "label": pd.Series([7] * len(vecs), dtype="int32"),
        }
    )
    out = _cluster_semantic_pdf(pdf).set_index("vec_id")
    assert len(out) == len(vecs)

    m = len(vecs)
    V = [np.array(v, dtype=np.float64) for v in vecs]
    s = [0] * 3
    for v in V:
        for p in range(3):
            s[p] += math.floor(v[p] * _SEMDEDUP_SCALE)
    c = [x / float(m * _SEMDEDUP_SCALE) for x in s]
    cn = math.sqrt(sum(x * x for x in c))

    def cosc(i):
        if cn == 0:
            return 0.0
        n = math.sqrt(float(V[i] @ V[i]))
        return round(float(V[i] @ np.array(c)) / (n * cn), 6)

    def cos(i, j):
        ni = math.sqrt(float(V[i] @ V[i]))
        nj = math.sqrt(float(V[j] @ V[j]))
        return round(float(V[i] @ V[j]) / (ni * nj), 6)

    for i in range(m):
        kept = True
        for j in range(m):
            if j == i:
                continue
            if cos(i, j) >= _SEMDEDUP_TAU and (
                (cosc(j), ids[j]) < (cosc(i), ids[i])
            ):
                kept = False
        row = out.loc[ids[i]]
        assert bool(row["kept"]) == kept, (ids, vecs, ids[i])
        assert abs(row["cos_centroid"] - cosc(i)) < 1e-9
        assert row["cluster"] == 7


@settings(max_examples=60, deadline=None)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=400), min_size=1, max_size=5
    ),
    chunk=st.integers(min_value=1, max_value=97),
)
def test_multipart_feed_parse_any_geometry(payloads, chunk):
    """The incremental multipart parser must reassemble EXACTLY the
    buffered parser's parts for arbitrary binary payloads (including
    payloads containing CRLFs, dashes, and boundary-like fragments) under
    any chunk geometry — delimiters straddling chunk edges included."""
    from arrow_experiments_spark.transport.multipart import (
        _part_header,
        content_type,
        iter_multipart_events,
        make_boundary,
        parse_multipart,
    )

    boundary = make_boundary()
    body = b""
    for i, p in enumerate(payloads):
        body += _part_header(boundary, f"application/x-part{i}")
        body += p + b"\r\n"
    body += f"--{boundary}--\r\n".encode()
    ctype = content_type(boundary)

    want = parse_multipart(body, ctype)

    chunks = [body[i : i + chunk] for i in range(0, len(body), chunk)]
    got: dict[str, list[bytes]] = {}
    cur_type = None
    buf = b""
    for kind, payload in iter_multipart_events(iter(chunks), ctype):
        if kind == "begin":
            cur_type = payload["content-type"]
            buf = b""
        elif kind == "data":
            buf += payload
        else:
            got.setdefault(cur_type, []).append(buf)
    assert got == {k: v for k, v in want.items()}


# ---- multipart parsers against the stdlib email parser --------------------
# Both engine parsers share one delimiter and header grammar, so the parity
# test above cannot catch a fault in that grammar.  The stdlib feed parser
# is the independent oracle here; the engine itself does not use it.

_BCHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"


@st.composite
def _multipart_bodies(draw):
    """(body, content-type header, part count) for a well-formed multipart
    body with a random boundary, preamble, epilogue and parts whose
    payloads hold CRLFs, ``--`` runs and prefixes of the delimiter."""
    boundary = draw(st.text(_BCHARS, min_size=1, max_size=40))
    dash = b"--" + boundary.encode()
    delim = b"\r\n" + dash
    piece = st.one_of(
        st.binary(max_size=24),
        st.sampled_from([b"\r\n", b"\r", b"\n", b"--", b"----", b"\r\n--"]),
        st.integers(0, len(delim) - 1).map(lambda k: delim[:k]),
    )
    blob = st.lists(piece, max_size=8).map(b"".join).filter(lambda b: dash not in b)

    def header_name(name):
        return draw(st.sampled_from([name, name.lower(), name.upper()]))

    ctypes = st.one_of(
        st.sampled_from(["application", "text", "image", "Application", "TEXT"]).flatmap(
            lambda main: st.text("abcxyzXYZ0123.+-", min_size=1, max_size=12).map(
                lambda sub: f"{main}/{sub}"
            )
        ),
        st.sampled_from(
            [ARROW_STREAM_CONTENT_TYPE, "application/json", "nonsense", ""]
        ),
    )
    params = st.sampled_from(["", "; charset=utf-8", '; name="data"', " ; q=1 ; x=y"])
    body = b""
    preamble = draw(blob)
    if preamble:
        body += preamble + b"\r\n"
    n_parts = draw(st.integers(1, 4))
    for _ in range(n_parts):
        body += dash + draw(st.sampled_from([b"", b" ", b"\t "])) + b"\r\n"
        # none (text/plain), one, or a repeated one (the first counts)
        for _ in range(draw(st.integers(0, 2))):
            ctype = draw(ctypes) + draw(params)
            body += f"{header_name('Content-Type')}: {ctype}\r\n".encode()
        if draw(st.booleans()):
            body += b'Content-Disposition: form-data; name="f"\r\n'
        if draw(st.booleans()):
            cte = draw(st.sampled_from(["7bit", "8bit", "binary", "Binary"]))
            body += f"{header_name('Content-Transfer-Encoding')}: {cte}\r\n".encode()
        body += b"\r\n" + draw(blob) + b"\r\n"
    body += dash + b"--"
    epilogue = draw(blob)
    if epilogue:
        body += b"\r\n" + epilogue
    ctype_header = draw(st.sampled_from(["multipart/form-data", "multipart/mixed"]))
    return body, f'{ctype_header}; boundary="{boundary}"', n_parts


def _email_oracle(body: bytes, ctype_header: str) -> dict[str, list[bytes]]:
    from email.parser import BytesFeedParser

    parser = BytesFeedParser()
    parser.feed(f"Content-Type: {ctype_header}\r\n\r\n".encode())
    parser.feed(body)
    msg = parser.close()
    out: dict[str, list[bytes]] = {}
    for part in msg.walk():
        assert not part.defects, part.defects  # the body is well formed
        if part.is_multipart():
            continue
        out.setdefault(part.get_content_type(), []).append(part.get_payload(decode=True))
    return out


@settings(max_examples=300, deadline=None)
@given(case=_multipart_bodies(), chunk=st.integers(min_value=1, max_value=97))
def test_multipart_parsers_match_email_oracle(case, chunk):
    """``parse_multipart`` and the streamed ``iter_multipart_events`` both
    give exactly what the stdlib ``email`` parser gives: the same parts,
    keyed by ``get_content_type()``, with the same payload bytes."""
    import email.message

    from arrow_experiments_spark.transport.multipart import (
        iter_multipart_events,
        parse_multipart,
    )

    body, ctype, n_parts = case
    want = _email_oracle(body, ctype)
    assert sum(map(len, want.values())) == n_parts
    assert parse_multipart(body, ctype) == want

    chunks = [body[i : i + chunk] for i in range(0, len(body), chunk)]
    got: dict[str, list[bytes]] = {}
    for kind, payload in iter_multipart_events(iter(chunks), ctype):
        if kind == "begin":
            m = email.message.Message()
            for name, value in payload.items():
                m[name] = value
            buf = b""
        elif kind == "data":
            buf += payload
        else:
            got.setdefault(m.get_content_type(), []).append(buf)
    assert got == want
