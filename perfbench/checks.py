"""Output checks: content digests and the DuckDB expectations for the
egress queries.

The expectations are the oracle SQL of each query run through DuckDB
over the benchmark's copy of the data and canonicalized with the
engine's own ``oracle.canonicalize``.  They take about a minute and a
half to compute, so they are stored under a key made of everything they
depend on: the DuckDB and pandas versions, the sources of the oracle
module and of this one, each query's oracle SQL and the data files.  A
stored file is used only when its key matches; ``perfbench/expected/``
holds the file for the committed engine, and any other key is computed
once per checkout into the run directory's cache.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa


def table_digest(table: pa.Table) -> str:
    """Digest of a table's schema and values, independent of how it is
    chunked into batches; dictionary columns digest as their values."""
    cols = []
    for col in table.columns:
        arr = col.combine_chunks()
        if pa.types.is_dictionary(arr.type):
            arr = arr.dictionary_decode()
        cols.append(arr)
    flat = pa.Table.from_arrays(cols, names=table.column_names)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, flat.schema) as w:
        w.write_table(flat)
    h = hashlib.sha256(str(table.schema).encode())
    h.update(sink.getvalue())
    return h.hexdigest()


def canonical_digest(df) -> tuple[str, int]:
    """``(digest, rows)`` of a pandas frame in ``oracle.canonicalize`` form
    (sorted columns, order-insensitive rows, floats bit-exact)."""
    from arrow_experiments_spark.oracle import canonicalize

    cols, rows = canonicalize(df)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest(), len(rows)


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


STORED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def expected_digests(names: list[str], sf_dir: str, cache_dir: str) -> dict[str, dict]:
    """name -> {"digest", "rows"} of DuckDB's result for each query."""
    import duckdb
    import pandas

    import arrow_experiments_spark.oracle as oracle
    from arrow_experiments_spark.registry import all_queries

    queries = all_queries()
    sqls = {n: queries[n].oracle_sql(None, sf_dir) for n in names}
    key = hashlib.sha256()
    key.update(f"{duckdb.__version__} {pandas.__version__}".encode())
    for source in (oracle.__file__, __file__):
        with open(source, "rb") as f:
            key.update(f.read())
    key.update(json.dumps(sqls, sort_keys=True).encode())
    for fn in sorted(os.listdir(sf_dir)):
        key.update(fn.encode() + _file_sha(os.path.join(sf_dir, fn)).encode())
    name = f"expected-{key.hexdigest()[:24]}.json"
    for d in (STORED, cache_dir):
        if os.path.exists(os.path.join(d, name)):
            with open(os.path.join(d, name)) as f:
                return json.load(f)
    path = os.path.join(cache_dir, name)
    con = oracle.duck_connection(sf_dir)
    con.execute("SET enable_progress_bar = false")
    out = {}
    for n in names:
        digest, rows = canonical_digest(con.execute(sqls[n]).df())
        out[n] = {"digest": digest, "rows": rows}
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
